package graft.streaming

import graft.operators.Ingest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

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
  * Kafka-shaped input: any streaming DataFrame with
  * `(partition INT, offset LONG, value STRING)` columns — exactly what
  * `spark.readStream.format("kafka")` yields after
  * `value.cast("string")`; tests drive it with a MemoryStream so no
  * broker is needed.
  */
object StreamingIngest {

  /** Run `body` (which starts and drains a streaming query) with
    * `spark.sql.shuffle.partitions` capped at `n`, restoring the prior
    * value after. Streaming state sharding is fixed at the FIRST batch
    * by this conf (it persists in the checkpoint), so it is a deliberate
    * sizing decision, not something to inherit from the batch session:
    * each state partition pays a store open/commit per micro-batch, and
    * a job whose live-key cardinality is thousands gains nothing from
    * hundreds of shards. On a production cluster you'd size it to
    * key-cardinality / executor count; the differential queries here cap
    * it so local[32] doesn't pay 32 store commits per 1-row sentinel
    * batch. Restores BEFORE the returned batch DataFrame executes, so
    * only the stream is affected.
    *
    * Not reentrant across threads: the cap is a read-modify-write of the
    * SESSION-shared conf, so two concurrent `withStateShards` on one
    * session could restore the wrong value. Calls are serialized on the
    * session; queries from OTHER threads reading the conf mid-body still
    * see the capped value (Verify/Bench/specs run the registry
    * single-threaded, so this never bites in practice).
    */
  def withStateShards[T](s: SparkSession, n: Int)(body: => T): T =
    // A non-numeric conf (possible via user override) must degrade to
    // no-op, not throw before the query even starts.
    withConf(s, "spark.sql.shuffle.partitions",
      _.flatMap(_.toIntOption).map(p => math.min(p, n).toString))(body)

  /** Run `body` with the RocksDB state store provider, restoring (or
    * unsetting) the prior provider after, even when `body` throws.
    * `transformWithState` needs it (multiple state variables are column
    * families); streams started inside keep it, since the provider is
    * fixed at a query's first batch and persists in its checkpoint.
    * Same threading caveat as [[withStateShards]].
    */
  def withRocksDbState[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.providerClass", _ => Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))(body)

  /** Set session conf `key` to `next(effective value)` for `body`, then
    * restore the prior setting — unset again if it was only a default.
    * `next` returning `None` leaves the conf untouched.
    */
  private def withConf[T](s: SparkSession, key: String,
      next: Option[String] => Option[String])(body: => T): T = s.synchronized {
    val prev = s.conf.getAll.get(key) // explicit setting only, not the default
    val value = next(s.conf.getOption(key))
    value.foreach(s.conf.set(key, _))
    try body finally if (value.isDefined) prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

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

  /** Drain an upsert stream into the in-memory sink `sink` (state capped
    * at 8 shards, see [[withStateShards]]) and reduce its update log to
    * the final latest-wins state `(id, msg, version)` ordered by `id`.
    * A tombstone that wins its key stays in the result as a null `msg`.
    */
  def drainUpserts(updates: Dataset[KeyedRecord], sink: String): DataFrame = {
    val s = updates.sparkSession
    s.catalog.dropTempView(sink)
    withStateShards(s, 8) {
      val q = updates.writeStream.format("memory").queryName(sink)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    Ingest.latestWins(s.table(sink), keys = Seq("id"), version = Seq("version"))
      .select(col("id"), col("msg"), col("version"))
      .orderBy("id")
  }

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
    * Requires the RocksDB state store provider (start the query inside
    * [[withRocksDbState]]); state remains O(live keys).
    */
  def latestWinsUpdatesTws(ds: Dataset[KeyedRecord]): Dataset[KeyedRecord] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.id)
      .transformWithState(new LatestWinsProcessor, TimeMode.None(), OutputMode.Update)
  }

  /** Latest-wins with KAFKA TOMBSTONE semantics in the state store: a
    * record whose `msg` is NULL deletes its key. The live value and the
    * delete marker live in SEPARATE state variables so the marker can
    * carry its own TTL — the exact shape of Kafka's
    * `delete.retention.ms`: the tombstone must stay remembered long
    * enough to suppress LATE out-of-order upserts with older versions
    * (without it, a straggler would resurrect the deleted key), yet
    * must eventually leave the store so state is O(live keys), not
    * O(ever-deleted keys). A tombstoned key holds only the tiny marker
    * (the live value is cleared immediately); with a retention TTL the
    * marker expires too. Emits every state CHANGE — upsert rows and
    * tombstone rows — so a downstream snapshot can apply deletes.
    */
  class LatestWinsTombstoneProcessor(retention: TTLConfig)
      extends StatefulProcessor[Long, KeyedRecord, KeyedRecord] {
    @transient private var latest: ValueState[KeyedRecord] = _
    @transient private var tomb: ValueState[KeyedRecord] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      latest = getHandle.getValueState[KeyedRecord](
        "latest", org.apache.spark.sql.Encoders.product[KeyedRecord], TTLConfig.NONE)
      tomb = getHandle.getValueState[KeyedRecord](
        "tomb", org.apache.spark.sql.Encoders.product[KeyedRecord], retention)
    }

    override def handleInputRows(key: Long, rows: Iterator[KeyedRecord],
        tv: TimerValues): Iterator[KeyedRecord] = {
      val prevVer = Seq(latest, tomb).filter(_.exists()).map(_.get().version).maxOption
      newerThan(prevVer, rows).map { b =>
        if (b.msg == null) { latest.clear(); tomb.update(b) }
        else { latest.update(b); tomb.clear() }
        b
      }.iterator
    }
  }

  /** [[latestWinsUpdatesTws]] with tombstone deletes. `retention` is the
    * delete-marker TTL (Kafka `delete.retention.ms`); the default NONE
    * keeps markers forever (strongest late-data correctness) and runs
    * in TimeMode.None — pass a TTL to bound marker state, which flips
    * the query to processing-time mode.
    */
  def latestWinsUpdatesTombstonesTws(ds: Dataset[KeyedRecord],
      retention: TTLConfig = TTLConfig.NONE): Dataset[KeyedRecord] = {
    import ds.sparkSession.implicits._
    val mode = if (retention == TTLConfig.NONE) TimeMode.None()
               else TimeMode.ProcessingTime()
    ds.groupByKey(_.id)
      .transformWithState(new LatestWinsTombstoneProcessor(retention), mode,
        OutputMode.Update)
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
