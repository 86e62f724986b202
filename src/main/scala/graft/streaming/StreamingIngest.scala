package graft.streaming

import graft.GraftSession
import graft.operators.Ingest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming form of the reference job (SURVEY.md §7 step 3,
  * BASELINE.json north star: "Structured Streaming Kafka source + HDFS
  * sink").
  *
  * The reference re-reads the whole topic per run and overwrites the HDFS
  * snapshot (`KafkaContext.java:57-59`, `HadoopKafkaConsumer.java:139-148`).
  * Streaming makes that incremental: the same latest-wins semantics as a
  * continuously-maintained state, with three tiers:
  *
  *  1. `dedupWithinWatermark` — drop duplicate keys inside the watermark
  *     horizon (bounded state, the cheap tier);
  *  2. `latestWinsUpdates` — true latest-wins upsert via
  *     `flatMapGroupsWithState`: emits a key only when a strictly newer
  *     version arrives (exact reference semantics, made incremental).
  *     Every latest-wins state machine here — on either state API, with
  *     or without tombstones — applies one rule, [[newerThan]];
  *  3. the snapshot — `KafkaLogOps.foldSnapshot` on
  *     [[graft.streaming.GenFold]]: each micro-batch merges its delta
  *     into the previous committed generation and publishes a new one
  *     behind a `_SUCCESS` marker, so a replayed batch rewrites its own
  *     generation and the snapshot always holds every key seen so far.
  *
  * Every streaming query in the engine runs through one entry point,
  * [[drain]]: it starts the stream, drains it, runs the flush steps
  * (watermark sentinels, [[sentinelSteps]]) and stops it. It also owns
  * the two session settings a stream depends on, the state-shard cap
  * and the state store provider, so no query names either.
  *
  * Kafka-shaped input: any streaming DataFrame with
  * `(partition INT, offset LONG, value STRING)` columns — exactly what
  * `spark.readStream.format("kafka")` yields after
  * `value.cast("string")`; tests drive it with a MemoryStream so no
  * broker is needed.
  */
object StreamingIngest {

  private val ShardsKey = "spark.sql.shuffle.partitions"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The state-shard cap every drained stream runs under. */
  val StateShards = 8

  /** Run `ds` as a streaming query to the end of its input and stop it.
    * `sink` sets up the writer (format, output mode, checkpoint,
    * `foreachBatch`); the query starts, drains (`processAllAvailable`),
    * then runs each `flush` step in turn, draining again after each, and
    * is always stopped, even when a step or the stream throws. Returns
    * the stopped query, whose progress log stays readable.
    *
    * Two session confs are scoped to the stream by
    * [[graft.GraftSession.scoped]] and restored after (unset again if
    * they were only defaults):
    *  - `spark.sql.shuffle.partitions` is capped at [[StateShards]].
    *    State sharding is fixed at a query's first batch by this conf
    *    (it persists in the checkpoint), so it is a sizing decision, not
    *    something to inherit from the batch session: each state
    *    partition pays a store open and commit per micro-batch, and a
    *    stream with thousands of live keys gains nothing from more
    *    shards. The cap never raises the session's value.
    *  - the state store provider is RocksDB when the analyzed plan holds
    *    a `transformWithState` node (its state variables are column
    *    families, which only RocksDB has); any other stream keeps the
    *    session's provider.
    *
    * Not reentrant across threads: the scope read-modify-writes the
    * SESSION-shared conf. Drains are serialized on the session's lock,
    * but a query on another thread reading the conf mid-drain sees the
    * scoped values (Verify, Bench and the specs run the registry on one
    * thread). A flush step runs on the draining thread and may open a
    * scope of its own; a `foreachBatch` body runs on the stream's thread
    * and must not open one on this session, since it would wait for the
    * lock the drain holds.
    */
  def drain[T](ds: Dataset[T], flush: Seq[() => Unit] = Nil)(
      sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val s = ds.sparkSession
    val tws = ds.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState])
    // A non-numeric partition conf (possible via user override) leaves
    // the cap off rather than failing the query before it starts.
    val cap = s.conf.getOption(ShardsKey).flatMap(_.toIntOption)
      .map(p => ShardsKey -> math.min(p, StateShards).toString)
    GraftSession.scoped(s, (cap ++ Option.when(tws)(ProviderKey -> RocksDb)).toMap) {
      val q = sink(ds.writeStream).start()
      try {
        q.processAllAvailable()
        flush.foreach { step => step(); q.processAllAvailable() }
      } finally q.stop()
      q
    }
  }

  /** [[drain]] into the in-memory table `name` (dropped first) in output
    * `mode`; returns the table.
    */
  def drainTable[T](ds: Dataset[T], name: String, mode: String = "append",
      flush: Seq[() => Unit] = Nil): DataFrame = {
    val s = ds.sparkSession
    s.catalog.dropTempView(name)
    drain(ds, flush)(_.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }

  /** Flush steps that close a stream's tail by the sentinel-union
    * pattern ([[graft.sources.Sources.eventsStream]]): round `i` of
    * `rounds` calls `push` with the time `endMs + i * stepMs`, and `push`
    * adds that round's watermark sentinel rows to the memory streams
    * unioned into the query.
    */
  def sentinelSteps(endMs: Long, rounds: Int, stepMs: Long)(
      push: java.sql.Timestamp => Unit): Seq[() => Unit] =
    (1 to rounds).map(i => () => push(new java.sql.Timestamp(endMs + i * stepMs)))

  /** One keyed record in flight: payload + version (the Kafka offset in
    * the reference, `KafkaMessageWithOffset.java:11-13`).
    */
  case class KeyedRecord(id: Long, msg: String, version: Long)

  /** Parse the Kafka-shaped frame into KeyedRecords with reference-lenient
    * semantics (malformed JSON dropped, missing fields defaulted —
    * `MyKafkaMessage.java:9-12`). Works on batch or streaming frames.
    */
  def parseKafkaShaped(df: DataFrame): DataFrame =
    Ingest.parseLenient(
      df.select(col("partition"), col("offset"), col("value")),
      jsonCol = "value",
      schema = Ingest.msgSchema,
      defaults = Map("id" -> lit(0L), "msg" -> lit("")))
      .select(col("id"), col("msg"), col("offset").as("version"))

  /** Tier 1: streaming dedup with bounded state — keeps the first row per
    * key within the watermark horizon, state expired afterwards. Needs an
    * event-time column `eventTime` on the frame.
    */
  def dedupWithinWatermark(df: DataFrame, eventTimeCol: String, delay: String, keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** The latest-wins update rule for one key: the incoming row with the
    * highest `(version, msg)`, emitted only if its version is strictly
    * greater than the stored one (`prevVersion`; `None` = no state yet).
    * The `msg` tiebreak is null-safe, so a tombstone (null msg) loses a
    * tied version to a payload and the choice never depends on arrival
    * order.
    */
  def newerThan(prevVersion: Option[Long], rows: Iterator[KeyedRecord]): Option[KeyedRecord] =
    rows.maxByOption(r => (r.version, Option(r.msg)))
      .filter(b => prevVersion.forall(_ < b.version))

  /** Tier 2: exact latest-wins upsert stream. Emits `(id, msg, version)`
    * whenever a strictly newer version arrives for a key; state holds one
    * record per live key (the 100 TB design point: state is O(live keys),
    * not O(events), and Spark's HDFS/RocksDB state store shards it by the
    * grouping key across executors).
    */
  def latestWinsUpdates(ds: Dataset[KeyedRecord]): Dataset[KeyedRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id)
      .flatMapGroupsWithState[KeyedRecord, KeyedRecord](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, recs: Iterator[KeyedRecord], state: GroupState[KeyedRecord]) =>
          newerThan(state.getOption.map(_.version), recs)
            .map { b => state.update(b); b }.iterator
      }
  }

  /** Drain an upsert stream into the in-memory table `sink` and reduce
    * its update log to the final latest-wins state `(id, msg, version)`
    * ordered by `id`. A tombstone that wins its key stays in the result
    * as a null `msg`.
    */
  def drainUpserts(updates: Dataset[KeyedRecord], sink: String): DataFrame =
    Ingest.latestWins(drainTable(updates, sink, "update"),
        keys = Seq("id"), version = Seq("version"))
      .select(col("id"), col("msg"), col("version"))
      .orderBy("id")

  /** One (band-bucket, document) event of the streaming near-dup
    * filter: the LSH band key, the doc id, and the 32-hash portable
    * MinHash signature.
    */
  case class BandedDoc(bk: String, doc_id: Long, mh: Seq[Long])

  /** Per-bucket state of the streaming near-dup filter: every doc seen
    * in this band bucket (parallel id/signature seqs — flat encoders).
    */
  case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]])

  case class DupHit(doc_id: Long, dup_of: Long, agree: Double)

  /** STREAMING near-duplicate detection — the online form of
    * MinHash-LSH dedup for incremental corpus ingestion: state is the
    * per-band-bucket membership, and each arriving document is checked
    * only against its own buckets' members (never the corpus). A doc
    * is flagged when a smaller-id bucket-mate agrees on >= `minAgree`
    * of the 32 signature positions; the flag names the SMALLEST such
    * id. Events are id-sorted within each group invocation and state
    * retains all members, so the result is arrival-order-independent
    * WITHIN a batch and invariant under any id-monotonic batch cut —
    * the ingestion contract (doc ids are assigned monotonically at
    * ingestion, so later batches only carry larger ids). Under that
    * contract a batch SQL oracle replays the stream exactly; a
    * smaller-id partner arriving in a LATER batch would not retro-flag
    * the already-emitted doc (append sinks can't retract).
    *
    * Scale: state per bucket is O(bucket occupancy) signatures (32
    * longs each, never the documents); at 100 TB you bound it with a
    * state TTL (forget buckets idle past the dedup horizon) or switch
    * the store to RocksDB — both are configuration, not redesign.
    */
  def nearDupHits(ds: Dataset[BandedDoc], minAgree: Double): Dataset[DupHit] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.bk)
      .flatMapGroupsWithState[BucketState, DupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, recs: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Vector.empty, Vector.empty))
          var ids = st.ids.toVector
          var sigs = st.sigs.toVector
          val out = Vector.newBuilder[DupHit]
          for (e <- recs.toSeq.sortBy(_.doc_id)) {
            var bestId = -1L
            var bestAgree = 0.0
            var i = 0
            while (i < ids.length) {
              if (ids(i) < e.doc_id && (bestId < 0 || ids(i) < bestId)) {
                val s = sigs(i)
                var k = 0
                var eq = 0
                while (k < 32) { if (s(k) == e.mh(k)) eq += 1; k += 1 }
                val a = eq / 32.0
                if (a >= minAgree) { bestId = ids(i); bestAgree = a }
              }
              i += 1
            }
            if (bestId >= 0) out += DupHit(e.doc_id, bestId, bestAgree)
            ids = ids :+ e.doc_id
            sigs = sigs :+ e.mh
          }
          state.update(BucketState(ids, sigs))
          out.result().iterator
      }
  }

  /** Latest-wins as a Spark 4 [[StatefulProcessor]] — the
    * `transformWithState` successor API to flatMapGroupsWithState:
    * explicit named state variables (typed ValueState here; List/Map
    * state and per-key timers exist for richer operators), TTL support,
    * and a RocksDB-backed store. Semantics are IDENTICAL to
    * [[latestWinsUpdates]] — `Round4dStreamSpec` differentially replays
    * the same corpus through both and asserts equal update logs.
    *
    * Kafka tombstones (a NULL `msg`) need nothing extra: a tombstone
    * that wins its key is stored as the key's latest record, so it
    * suppresses a later straggler with an older version (which would
    * otherwise resurrect the deleted key), and it is emitted like any
    * update, so a snapshot folded from the log applies the delete. A
    * deleted key keeps its tombstone in state for good: there is no
    * TTL, where Kafka drops a tombstone after `delete.retention.ms`.
    */
  class LatestWinsProcessor extends StatefulProcessor[Long, KeyedRecord, KeyedRecord] {
    @transient private var latest: ValueState[KeyedRecord] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[KeyedRecord](
        "latest", org.apache.spark.sql.Encoders.product[KeyedRecord], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[KeyedRecord],
        tv: TimerValues): Iterator[KeyedRecord] = {
      val prev = if (latest.exists()) Some(latest.get().version) else None
      newerThan(prev, rows).map { b => latest.update(b); b }.iterator
    }
  }

  /** Tier 2, modern form: [[latestWinsUpdates]] via `transformWithState`.
    * Runs on the RocksDB state store, which [[drain]] selects for it;
    * state remains O(live keys).
    */
  def latestWinsUpdatesTws(ds: Dataset[KeyedRecord]): Dataset[KeyedRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id)
      .transformWithState(new LatestWinsProcessor, TimeMode.None(), OutputMode.Update)
  }

  /** One event keyed to a (user, time-bucket) rate-limit cell. */
  case class BucketEvent(user_id: Long, bucket: Long, ts_us: Long, event_id: Long)

  /** EARLIEST-wins upsert — the mirror of [[latestWinsUpdates]] used for
    * streaming RATE LIMITING: state holds the minimum (ts, event_id) per
    * (user, bucket) cell and a cell emits only when a strictly earlier
    * event arrives, so the reduced update log equals the batch
    * first-per-bucket answer REGARDLESS of arrival order (late or
    * shuffled arrivals self-correct — deterministic where a streaming
    * dropDuplicates would keep whichever row won the intra-batch race).
    * State is O(live cells); bucket keys are time-derived, so a
    * production run ages them out with a timeout on the bucket clock.
    */
  def earliestWinsUpdates(ds: Dataset[BucketEvent]): Dataset[BucketEvent] = {
    import ds.sparkSession.implicits._
    val ord = Ordering[(Long, Long)]
    ds.groupByKey(r => (r.user_id, r.bucket))
      .flatMapGroupsWithState[BucketEvent, BucketEvent](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: (Long, Long), recs: Iterator[BucketEvent], state: GroupState[BucketEvent]) =>
          val incoming = recs.minByOption(r => (r.ts_us, r.event_id))
          val best = (incoming.toSeq ++ state.getOption.toSeq)
            .minByOption(r => (r.ts_us, r.event_id))
          best match {
            case Some(b) if !state.getOption.exists(s =>
                ord.lteq((s.ts_us, s.event_id), (b.ts_us, b.event_id))) =>
              state.update(b)
              Iterator.single(b)
            case _ => Iterator.empty
          }
      }
  }

  /** One user event: a view, click or purchase at `ts`. */
  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** One unconverted view: the CEP-negation alert. */
  case class AbsAlert(user_id: Long, view_us: Long)

  /** Streaming CEP NEGATION ("view NOT followed by purchase within the
    * horizon") on [[StatefulProcessor]] with EVENT-TIME TIMERS — the
    * pattern class a join can never express incrementally, because the
    * alert condition is the ABSENCE of a future row and only the
    * watermark can prove a future row will not come. Per user, state is
    * the pending (unconverted) view times; a purchase retracts every
    * pending view it converts (strictly-before, within horizon), and a
    * view registers a timer just past its deadline — when the watermark
    * passes it, any still-pending view at or before the deadline is
    * emitted as an alert and dropped. State is O(pending views), not
    * O(history); timestamps ride in MICROS (the conversion test must
    * match the batch oracle's full precision; timers are millisecond-
    * rounded UP so a timer can never fire before its own deadline).
    */
  class AbsenceProcessor(horizonUs: Long)
      extends StatefulProcessor[Long, FunnelEvent, AbsAlert] {
    @transient private var pending: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getListState[Long]("pending",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    private def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000

    override def handleInputRows(uid: Long, rows: Iterator[FunnelEvent],
        tv: TimerValues): Iterator[AbsAlert] = {
      var p = pending.get().toVector
      var changed = false
      rows.toArray.sortBy(e => micros(e.ts)).foreach { e =>
        val t = micros(e.ts)
        e.event_type match {
          case "view" =>
            p = p :+ t
            changed = true
            // ceil to ms so watermark(deadline) has truly passed at fire
            getHandle.registerTimer((t + horizonUs) / 1000L + 1L)
          case "purchase" =>
            val keep = p.filterNot(v => v < t && t <= v + horizonUs)
            if (keep.length != p.length) { p = keep; changed = true }
          case _ => () // other event types (and sentinels) are inert
        }
      }
      if (changed) {
        pending.clear()
        if (p.nonEmpty) pending.appendList(p.toArray)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AbsAlert] = {
      val cutUs = info.getExpiryTimeInMs() * 1000L
      val p = pending.get().toVector
      val (fire, keep) = p.partition(v => v + horizonUs < cutUs)
      if (fire.nonEmpty) {
        pending.clear()
        if (keep.nonEmpty) pending.appendList(keep.toArray)
      }
      fire.sorted.iterator.map(v => AbsAlert(uid, v))
    }
  }

  /** [[AbsenceProcessor]] through `transformWithState` (event-time
    * timers, watermark-driven).
    */
  def absenceAlerts(ds: Dataset[FunnelEvent], horizonUs: Long): Dataset[AbsAlert] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new AbsenceProcessor(horizonUs),
        TimeMode.EventTime(), OutputMode.Append)
  }

  /** One event entering streaming sessionization. */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Live per-user session state (epoch millis bounds). */
  case class SessState(start: Long, last: Long, n: Long, sv: Double)

  /** One closed session. */
  case class SessOut(user_id: Long, session_start: java.sql.Timestamp,
      n: Long, sv: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState with
    * EVENT-TIME TIMEOUT — the general form of `session_window` for when
    * the per-session aggregate isn't expressible as a built-in (here it
    * is, deliberately, so the batch gaps-and-islands oracle can check the
    * incremental execution). Sessions close two ways: a same-user event
    * arrives past the gap (emitted immediately), or the watermark passes
    * last-event + gap (timeout fires). State is O(live sessions), sharded
    * by user across executors — the 100 TB design point; nothing buffers
    * per-event.
    *
    * Session rule matches the batch oracle: an event extends the session
    * iff ts - last <= gap (strictly-greater gaps start a new session).
    */
  def sessionize(ds: Dataset[SessEvent], gapMs: Long): Dataset[SessOut] = {
    import ds.sparkSession.implicits._
    def close(uid: Long, s: SessState): SessOut =
      SessOut(uid, new java.sql.Timestamp(s.start), s.n, s.sv)
    ds.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = close(uid, state.get)
            state.remove()
            Iterator.single(out)
          } else {
            // within-batch events may span several sessions: walk in
            // event-time order, closing as gaps appear
            val evs = it.toArray.sortBy(_.ts.getTime)
            var closed = List.empty[SessOut]
            var st = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime
              st match {
                case Some(s) if t - s.last <= gapMs =>
                  st = Some(SessState(s.start, math.max(s.last, t), s.n + 1, s.sv + e.value))
                case Some(s) =>
                  closed ::= close(uid, s)
                  st = Some(SessState(t, t, 1L, e.value))
                case None =>
                  st = Some(SessState(t, t, 1L, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Event-time tumbling-window aggregation with watermark + late-data
    * drop — the streaming generalization of the reference's batch "whole
    * topic at once" model.
    */
  def windowedCounts(events: DataFrame, eventTimeCol: String, delay: String, window0: String): DataFrame =
    events.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), window0), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sv"))
}
