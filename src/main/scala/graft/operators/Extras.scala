package graft.operators

import graft.{GQuery, GraftSession, Tables}
import graft.functions.LatestAggregator
import graft.functions.LatestAggregator.VersionedValue
import graft.multimodal.Multimodal
import graft.plans.AsOfJoin
import graft.sources.Sources
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Session windows, deterministic sampling, sketches, multimodal plumbing,
  * and a streaming-engine differential query (SURVEY.md §2B tail).
  */
object Extras {

  /** Typed row for the Dataset[T]-surface query. */
  case class TypedEvent(user_id: Long, event_type: String, value: Double)

  /** The events file stream as upserts: user → latest event type, by event id. */
  private def eventsAsKeyed(s: SparkSession, dir: String): Dataset[KeyedRecord] = {
    import s.implicits._
    Sources.eventsStream(s, dir)
      .select(col("user_id").as("id"), col("event_type").as("msg"),
        col("event_id").as("version"))
      .as[KeyedRecord]
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "typed_events_stats",
      (s, dir) => {
        // The typed Dataset[T] surface end-to-end: case-class Encoder,
        // lambda filter, groupByKey + TypedColumn aggregates. The lambda
        // filter deserializes rows (the honest cost of compile-time
        // types — note the scan can't push it down, unlike the Column
        // form used everywhere else); the aggregate itself still runs as
        // codegen'd partial aggregation.
        import s.implicits._
        val ds = Tables.t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("value"))
          .as[TypedEvent]
        ds.filter((e: TypedEvent) => e.value > 50.0)
          .groupByKey(_.event_type)
          .agg(count(lit(1)).as[Long], avg(col("value")).as[Double])
          .toDF("event_type", "n", "avg_value")
          .select(col("event_type"), col("n"),
            round(col("avg_value"), 4).as("avg_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value
             |FROM events WHERE value > 50.0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    GQuery(
      "typed_sorted_groups",
      (s, dir) => {
        // flatMapSortedGroups — the Spark 3.4+ typed API that hands each
        // group's rows ALREADY SORTED by a secondary key (the engine
        // sorts within partitions as part of the exchange, instead of
        // every group function re-sorting or buffering): per user,
        // iterate events in time order once, O(1) memory, computing the
        // maximum inter-event gap and the event count. The oracle
        // recomputes via lag() — any group-order violation or dropped
        // row breaks the max-gap values.
        import s.implicits._
        Tables.t(s, dir, "events")
          .select(col("user_id"), expr("ts_ns div 1000").as("us"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .flatMapSortedGroups(col("us").asc) { (user, it) =>
            var prev = Long.MinValue
            var maxGap = 0L
            var n = 0L
            it.foreach { case (_, us) =>
              if (prev != Long.MinValue && us - prev > maxGap) maxGap = us - prev
              prev = us
              n += 1
            }
            Iterator((user, n, maxGap))
          }
          .toDF("user_id", "n_events", "max_gap_us")
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id,
             |                  epoch_us(ts::TIMESTAMP) -
             |                    lag(epoch_us(ts::TIMESTAMP)) OVER (
             |                      PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP)) AS gap
             |           FROM events)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "time_session",
      (s, dir) => {
        // Session windows (30-min gap) per user — batch form of the
        // streaming session_window; oracle reproduces it with the
        // gaps-and-islands idiom.
        Tables.t(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
          .select(col("user_id"),
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            col("n"), col("sv"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, ts::TIMESTAMP AS t, value FROM events),
             |     m AS (SELECT user_id, t, value,
             |                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
             |                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE
             |                       THEN 1 ELSE 0 END AS new_s
             |           FROM e),
             |     g AS (SELECT user_id, t, value,
             |                  sum(new_s) OVER (PARTITION BY user_id ORDER BY t
             |                                   ROWS UNBOUNDED PRECEDING) AS sid
             |           FROM m)
             |SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       count(*) AS n, round(sum(value), 2) AS sv
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    GQuery(
      "sample_hash",
      (s, dir) => {
        // Deterministic 1/8 sample: last hex digit of md5(text) — the
        // portable, repartition-stable alternative to TABLESAMPLE
        // (whose row choice is engine/partition dependent). At 100 TB
        // this pushes as a cheap filter right above the scan.
        Tables.t(s, dir, "documents")
          .where(substring(md5(col("text").cast("binary")), 32, 1).isin("0", "1"))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE substring(md5(text), 32, 1) IN ('0', '1')
             |ORDER BY doc_id""".stripMargin)),

    GQuery(
      "sample_stratified",
      (s, dir) => {
        // Deterministic STRATIFIED sample (sampleBy semantics without its
        // engine-dependent RNG): per-stratum keep-fraction via an md5
        // threshold on the content — 25% of 'en' docs, 50% of the rest.
        // Pushes as a cheap filter above the scan; repartition-stable and
        // reproducible across engines and re-runs.
        Tables.t(s, dir, "documents")
          .where(conv(substring(md5(col("text").cast("binary")), 1, 2), 16, 10).cast("long") <
            when(col("lang") === "en", lit(64L)).otherwise(lit(128L)))
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x' || substring(md5(text), 1, 2))::BIGINT <
             |      CASE WHEN lang = 'en' THEN 64 ELSE 128 END
             |ORDER BY doc_id""".stripMargin)),

    GQuery(
      "sample_group_topk",
      (s, dir) => {
        // Deterministic per-group reservoir: k=5 docs per language,
        // chosen by md5 rank (uniform-ish, reproducible — the portable
        // replacement for per-group reservoir sampling). One window sort
        // per group; at 100 TB rank-by-hash pushes into a top-k-per-key
        // aggregate (min_by over k) with no full sort.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(md5(col("text").cast("binary")), col("doc_id"))
        Tables.t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            row_number().over(w).cast("long").as("rk"))
          .where(col("rk") <= 5)
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, doc_id,
             |       CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS BIGINT) AS rk
             |FROM documents
             |QUALIFY rk <= 5
             |ORDER BY lang, rk""".stripMargin)),

    GQuery(
      "table_fingerprint",
      (s, dir) => {
        // Order-independent table checksum (anti-entropy / replica
        // verification): SUM of per-row 32-bit md5-derived hashes + row
        // count, grouped by return flag. One scan, one tiny aggregate,
        // no sort — the shape that verifies a 100 TB copy job without
        // moving the data. Only int/string/date columns enter the row
        // repr (float formatting differs across engines).
        Tables.t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            conv(substring(md5(concat_ws("|",
              col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
              date_format(col("l_shipdate"), "yyyy-MM-dd")).cast("binary")), 1, 8), 16, 10)
              .cast("long").as("h"))
          .groupBy("l_returnflag")
          .agg(sum("h").as("checksum"), count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       CAST(sum(('0x' || substring(md5(
             |              l_orderkey || '|' || l_linenumber || '|' || l_returnflag || '|' ||
             |              strftime(l_shipdate, '%Y-%m-%d')), 1, 8))::BIGINT) AS BIGINT) AS checksum,
             |       count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "table_profile",
      (s, dir) => {
        // Data profiling (ANALYZE-style column statistics as a query):
        // null count, distinct count, min/max per column, one row per
        // column. Each profile is a single scan-side aggregate; at
        // 100 TB ndv becomes approx_count_distinct and all columns
        // share ONE scan via a multi-aggregate — this exact form is the
        // oracle-checkable anchor.
        val l = Tables.t(s, dir, "lineitem")
        def prof(c: String) = l.agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("ndv"),
            min(col(c)).cast("string").as("min_s"),
            max(col(c)).cast("string").as("max_s"))
          .select(lit(c).as("col"), col("n_nulls"), col("ndv"),
            col("min_s"), col("max_s"))
        prof("l_orderkey").union(prof("l_returnflag")).union(prof("l_quantity"))
          .orderBy("col")
      },
      Some("""SELECT col, CAST(n_nulls AS BIGINT) AS n_nulls, CAST(ndv AS BIGINT) AS ndv,
             |       min_s, max_s FROM (
             |  SELECT 'l_orderkey' AS col,
             |         sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
             |         count(DISTINCT l_orderkey) AS ndv,
             |         CAST(min(l_orderkey) AS VARCHAR) AS min_s,
             |         CAST(max(l_orderkey) AS VARCHAR) AS max_s
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_returnflag',
             |         sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END),
             |         count(DISTINCT l_returnflag),
             |         CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_quantity',
             |         sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END),
             |         count(DISTINCT l_quantity),
             |         CAST(min(l_quantity) AS VARCHAR), CAST(max(l_quantity) AS VARCHAR)
             |  FROM lineitem)
             |ORDER BY col""".stripMargin)),

    GQuery(
      "agg_approx_distinct",
      (s, dir) => {
        // HLL++ sketch distinct — the 100 TB path for distinct counts
        // (exact countDistinct needs a global shuffle of all keys; the
        // sketch merges O(1) state). Sketch estimates are engine-
        // specific, so the registered form is the AGREEMENT query: the
        // sketch runs alongside the exact answer and the driver
        // hash-verifies the exact counts plus a relative-error flag at
        // 3× the configured rsd (oracle expects true; measured errors
        // across sf0.001-0.1 peak at 1.7σ, so 3σ gates real
        // regressions without flaking). A production corpus calls
        // approx_count_distinct alone; this query is its certification
        // harness.
        val rsd = 0.05
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            countDistinct(col("l_orderkey")).as("exact_orders"),
            approx_count_distinct(col("l_partkey"), rsd).as("ap"),
            approx_count_distinct(col("l_orderkey"), rsd).as("ao"))
          .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
            (abs(col("ap") - col("exact_parts")).cast("double") / col("exact_parts") <= 3 * rsd &&
              abs(col("ao") - col("exact_orders")).cast("double") / col("exact_orders") <= 3 * rsd)
              .as("approx_ok"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       count(DISTINCT l_partkey) AS exact_parts,
             |       count(DISTINCT l_orderkey) AS exact_orders,
             |       true AS approx_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "multimodal_features",
      (s, dir) => {
        // Multimodal plumbing end-to-end: synthesize binary media from
        // documents, decode-stub metadata, batched feature extraction,
        // resize planning — then project metadata only (binary never
        // crosses a shuffle). Feature values are stubbed; the oracle
        // checks the deterministic plumbing (ids, kinds, shapes).
        val media = Multimodal.syntheticMedia(
          Tables.t(s, dir, "documents"), idCol = "doc_id", textCol = "text")
        val decoded = Multimodal.withResizePlan(
          Multimodal.withDecodedMeta(media), maxSide = 256)
        Multimodal.extractFeaturesStub(decoded, dim = 16)
          .select(col("media_id"), col("kind"),
            size(col("features")).cast("long").as("n_features"),
            (col("resize_w") <= 256 && col("resize_h") <= 256).as("resized_ok"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |       CAST(16 AS BIGINT) AS n_features,
             |       true AS resized_ok
             |FROM documents ORDER BY media_id""".stripMargin)),

    GQuery(
      "multimodal_frames",
      (s, dir) => {
        // Video FRAME SAMPLING as metadata arithmetic: n evenly-spaced
        // frame indices explode per video row (images/audio pass through
        // with frame 0) — the row-multiplication happens on metadata
        // only; each sampled frame's decode is the stubbed step at the
        // point the bytes are already local. Frame count is derived
        // deterministically so the oracle replays the index math.
        val media = Multimodal.syntheticMedia(
            Tables.t(s, dir, "documents"), idCol = "doc_id", textCol = "text")
          .withColumn("n_frames", (pmod(col("media_id"), lit(100)) + 8).cast("int"))
        Multimodal.frameSample(media, n = 4, totalFramesCol = col("n_frames"))
          .select(col("media_id"), col("kind"),
            col("frame_idx").cast("long").as("frame_idx"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |                  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |                       ELSE 'video' END AS kind,
             |                  doc_id % 100 + 8 AS nf
             |           FROM documents)
             |SELECT media_id, kind,
             |       unnest(CASE WHEN kind = 'video'
             |                   THEN [(i * nf) // 4 for i in range(0, 4)]
             |                   ELSE [0] END)::BIGINT AS frame_idx
             |FROM m ORDER BY media_id, frame_idx""".stripMargin)),

    GQuery(
      "multimodal_dedup",
      (s, dir) => {
        // Binary CONTENT-HASH dedup — the image/audio analog of exact
        // text dedup: digest the payload bytes at the scan (the blob
        // itself never shuffles; only the 16-byte digest + id do), then
        // group to find copies. The oracle reconstructs the synthetic
        // payload (text || md5(text)) and its digest in SQL, so the
        // whole digest pipeline is differentially checked.
        val d = Tables.t(s, dir, "documents")
        // plant byte-identical copies under new ids (every 7th doc's
        // payload re-ingested, as re-crawls/mirrors would) so the digest
        // grouping has real work to do at any scale factor
        val replay = d.where(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val media = Multimodal.syntheticMedia(
          d.unionByName(replay), idCol = "doc_id", textCol = "text")
        media.select(col("media_id"), md5(col("bytes")).as("digest"))
          .groupBy("digest")
          .agg(min("media_id").as("keeper"), count(lit(1)).as("n_copies"))
          .select(col("keeper"), col("n_copies"))
          .orderBy("keeper")
      },
      Some("""WITH m AS (SELECT doc_id, text FROM documents
             |           UNION ALL
             |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
             |SELECT min(doc_id)::BIGINT AS keeper, count(*)::BIGINT AS n_copies
             |FROM (SELECT doc_id, md5(text || md5(text)) AS digest FROM m)
             |GROUP BY digest ORDER BY keeper""".stripMargin)),

    GQuery(
      "multimodal_pack_shards",
      (s, dir) => {
        // SHARD PACKING for blob training data (the WebDataset/tar-shard
        // shape): media blobs pack into ~64 KB shards by a running byte
        // total in media_id order. The PLANNING pass touches only
        // (media_id, n_bytes) — 16 bytes per blob, never the payload;
        // the blobs themselves would be copied shard-by-shard by workers
        // reading the assignment, so at 100 TB the plan is metadata-
        // sized and the byte movement is embarrassingly parallel per
        // shard. Same two-pass distributed cumulative shape as
        // docs_pack_sequential (per-partition subtotals broadcast as
        // offsets — no global single-partition window at scale). The
        // differential emits per-shard blob counts and byte totals; a
        // packing that split a blob, dropped one, or drifted the
        // boundary rule fails the hash.
        import org.apache.spark.sql.expressions.Window
        val media = graft.multimodal.Multimodal.syntheticMedia(
          Tables.t(s, dir, "documents"), idCol = "doc_id", textCol = "text")
        val w = Window.orderBy("media_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        media.select(col("media_id"), length(col("bytes")).cast("long").as("n_bytes"))
          .withColumn("cum", sum("n_bytes").over(w))
          .select(col("media_id"), col("n_bytes"),
            expr("(cum - n_bytes) div 65536").as("shard"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_blobs"), sum("n_bytes").as("bytes"),
            min("media_id").as("first_id"), max("media_id").as("last_id"))
          .orderBy("shard")
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
             |                  CAST(len(text) + 32 AS BIGINT) AS n_bytes
             |           FROM documents),
             |     c AS (SELECT media_id, n_bytes,
             |                  sum(n_bytes) OVER (ORDER BY media_id
             |                                     ROWS UNBOUNDED PRECEDING) AS cum
             |           FROM m)
             |SELECT CAST((cum - n_bytes) // 65536 AS BIGINT) AS shard,
             |       CAST(count(*) AS BIGINT) AS n_blobs,
             |       CAST(sum(n_bytes) AS BIGINT) AS bytes,
             |       min(media_id) AS first_id, max(media_id) AS last_id
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "streaming_latest_upsert",
      (s, dir) => {
        // Differential check of the STREAMING engine: drive events from a
        // file-source readStream (executors read the parquet — NOTHING is
        // collected to the driver) into the flatMapGroupsWithState
        // latest-wins upsert, then reduce the update log to final state.
        // Must equal the batch arg_max oracle — same semantics,
        // incremental execution. Latest-wins is arrival-order-
        // independent, so batch slicing isn't part of the contract here;
        // the multi-batch replay-order property is exercised by the
        // MemoryStream suites in StreamingSpec.
        StreamingIngest.drainUpserts(
          StreamingIngest.latestWinsUpdates(eventsAsKeyed(s, dir)), "latest_upsert_sink")
      },
      Some("""SELECT user_id AS id, arg_max(event_type, event_id) AS msg,
             |       max(event_id) AS version
             |FROM events GROUP BY user_id ORDER BY id""".stripMargin)),

    GQuery(
      "streaming_tws_upsert",
      (s, dir) => {
        // The SAME differential replay through the Spark 4
        // transformWithState (StatefulProcessor + RocksDB store) form of
        // the upsert — the driver gate now certifies the modern state
        // API against the identical batch arg_max oracle. The drain
        // runs the transformWithState plan on the RocksDB store.
        StreamingIngest.drainUpserts(
          StreamingIngest.latestWinsUpdatesTws(eventsAsKeyed(s, dir)), "tws_upsert_sink")
      },
      Some("""SELECT user_id AS id, arg_max(event_type, event_id) AS msg,
             |       max(event_id) AS version
             |FROM events GROUP BY user_id ORDER BY id""".stripMargin)),

    GQuery(
      "streaming_rate_limit",
      (s, dir) => {
        // Differential check of STREAMING RATE LIMITING: replay events in
        // 4 micro-batches through the earliest-wins upsert (the mirror of
        // latest-wins: state = min (ts, event_id) per (user, 10-minute
        // bucket), emitting only on strictly-earlier arrivals), reduce
        // the update log, and compare to the batch first-per-bucket
        // oracle — the same answer events_rate_limit computes with a
        // window, now incremental and arrival-order-independent (a
        // streaming dropDuplicates would keep intra-batch race winners).
        import s.implicits._
        val src = Sources.eventsStream(s, dir)
          .select(col("user_id"),
            floor(col("ts").cast("timestamp").cast("double") / 600)
              .cast("long").as("bucket"),
            expr("ts_ns div 1000").as("ts_us"), col("event_id"))
          .as[StreamingIngest.BucketEvent]
        StreamingIngest.drainTable(StreamingIngest.earliestWinsUpdates(src), "srl_sink", "update")
          .groupBy("user_id", "bucket")
          .agg(min_by(col("event_id"), struct(col("ts_us"), col("event_id")))
            .as("event_id"))
          .select(col("user_id"), col("bucket"), col("event_id"))
          .orderBy("user_id", "bucket")
      },
      Some("""WITH b AS (SELECT user_id, event_id, ts,
             |                  floor(epoch(ts::TIMESTAMP) / 600)::BIGINT AS bucket
             |           FROM events),
             |     r AS (SELECT user_id, bucket, event_id,
             |                  row_number() OVER (PARTITION BY user_id, bucket
             |                     ORDER BY ts, event_id) AS rn
             |           FROM b)
             |SELECT user_id, bucket, event_id
             |FROM r WHERE rn = 1 ORDER BY user_id, bucket""".stripMargin)),

    GQuery(
      "streaming_sessionize",
      (s, dir) => {
        // Differential check of CUSTOM STATEFUL sessionization: stream
        // the events table through the flatMapGroupsWithState
        // sessionizer from the FILE SOURCE (executors read the parquet;
        // the bulk rows never transit the driver — round 6, replacing
        // the collect()+MemoryStream replay), force the tail sessions
        // closed by advancing the watermark with sentinel rows from a
        // tiny unioned MemoryStream (union of streaming sources), and
        // compare against the SAME gaps-and-islands oracle as the batch
        // time_session query — incremental and batch must agree
        // exactly. The sessionizer sorts within each invocation, so
        // file-order delivery needs no driver-side pre-sort; batch-cut
        // invariance itself is proven in StreamingSpec's scrambled
        // multi-batch replays.
        import s.implicits._
        val bulk = Sources.eventsStream(s, dir)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
        val ms = MemoryStream[StreamingIngest.SessEvent](s)
        val src = bulk.union(ms.toDF()).as[StreamingIngest.SessEvent]
        // sentinel rounds: the first advances the watermark past every
        // live timeout, the second lets the timeouts fire
        StreamingIngest.drainTable(StreamingIngest.sessionize(src, gapMs = 30L * 60 * 1000),
            "sessionize_sink",
            flush = StreamingIngest.sentinelSteps(Sources.eventsEndMs(s, dir), 2, 36000000L) {
              t => ms.addData(StreamingIngest.SessEvent(-1L, t, 0.0)) })
          .where(col("user_id") =!= -1L)
          .select(col("user_id"),
            date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH e AS (SELECT user_id, ts::TIMESTAMP AS t, value FROM events),
             |     m AS (SELECT user_id, t, value,
             |                  CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
             |                         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE
             |                       THEN 1 ELSE 0 END AS new_s
             |           FROM e),
             |     g AS (SELECT user_id, t, value,
             |                  sum(new_s) OVER (PARTITION BY user_id ORDER BY t
             |                                   ROWS UNBOUNDED PRECEDING) AS sid
             |           FROM m)
             |SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       count(*) AS n, round(sum(value), 2) AS sv
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    GQuery(
      "streaming_absence_alert",
      (s, dir) => {
        // Streaming CEP NEGATION differential: "view NOT followed by a
        // purchase within 1 hour" — the alert a join cannot produce
        // incrementally, because it asserts a row's ABSENCE and only
        // the watermark can prove the future row isn't coming. Events
        // stream from the file source through the timer-based
        // AbsenceProcessor (pending views retracted by converting
        // purchases; event-time timers fire the survivors once the
        // watermark passes their deadline); far-future sentinels close
        // the stream so every undecided view gets its verdict. Must
        // equal the batch NOT EXISTS anti-join per user, at full
        // microsecond precision.
        import s.implicits._
        val bulk = Sources.eventsStream(s, dir)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_type"))
        val ms = MemoryStream[StreamingIngest.FunnelEvent](s)
        val src = bulk.union(ms.toDF()).as[StreamingIngest.FunnelEvent]
        StreamingIngest.drainTable(StreamingIngest.absenceAlerts(src, horizonUs = 3600L * 1000000L),
            "absence_sink",
            flush = StreamingIngest.sentinelSteps(Sources.eventsEndMs(s, dir), 2, 36000000L) {
              t => ms.addData(StreamingIngest.FunnelEvent(-1L, t, "sentinel")) })
          .where(col("user_id") =!= -1L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_unconverted"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (SELECT user_id, ts::TIMESTAMP AS t FROM events
             |           WHERE event_type = 'view'),
             |     p AS (SELECT user_id, ts::TIMESTAMP AS t FROM events
             |           WHERE event_type = 'purchase')
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_unconverted
             |FROM v WHERE NOT EXISTS (SELECT 1 FROM p
             |                         WHERE p.user_id = v.user_id
             |                           AND p.t > v.t
             |                           AND p.t <= v.t + INTERVAL 1 HOUR)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "streaming_windowed_counts",
      (s, dir) => {
        // Differential check of STREAMING EVENT-TIME WINDOWS: stream the
        // events table through the watermarked tumbling-window aggregate
        // from the FILE SOURCE (append mode emits a window only when the
        // watermark closes it; bulk rows never transit the driver —
        // round 6, replacing the collect()+MemoryStream replay), force
        // the tail windows closed with watermark-advancing sentinel rows
        // from a tiny unioned MemoryStream, and compare against the SAME
        // date_trunc oracle as the batch time_tumbling query —
        // incremental emission must reconstruct the batch answer exactly.
        import s.implicits._
        val bulk = Sources.eventsStream(s, dir)
          .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
        val ms = MemoryStream[(java.sql.Timestamp, String, Double)](s)
        val src = bulk.union(ms.toDF().toDF("ts", "event_type", "value"))
        StreamingIngest.drainTable(StreamingIngest.windowedCounts(src,
              eventTimeCol = "ts", delay = "10 minutes", window0 = "1 hour"),
            "swc_sink",
            flush = StreamingIngest.sentinelSteps(Sources.eventsEndMs(s, dir), 2, 7200000L) {
              t => ms.addData((t, "___wm", 0.0)) })
          .where(col("event_type") =!= "___wm")
          .select(date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
          .orderBy("ws", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ws,
             |       event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    GQuery(
      "streaming_neardup_dedup",
      (s, dir) => {
        // STREAMING near-dup dedup — online MinHash-LSH over a document
        // file-stream: per-doc signature + band keys computed row-local
        // (no shuffle before the stateful stage), then the per-bucket
        // flatMapGroupsWithState filter flags each doc whose bucket
        // already holds a smaller-id member agreeing on >= 50% of the 32
        // portable signature positions. The final reduce picks the
        // smallest flagged dup_of across buckets. Invariant under any
        // id-monotonic batch cut (the ingestion contract — see
        // nearDupHits; StreamingSpec proves it on scrambled 3-batch
        // replays), so the batch SQL oracle (same affine signature
        // literals, same band md5s, same agreement fraction) replays it
        // exactly. est_sim values are k/32 — exact binary doubles,
        // round()-safe cross-engine.
        import s.implicits._
        val sh = DedupOps.shingles(col("text"), 3)
        val sig = array((0 until 32).map { i =>
          val (a, b) = DedupOps.minhashCoef(i)
          array_min(transform(col("hs"),
            h => (lit(a) * h + lit(b)) % lit(DedupOps.MinhashP)))
        }: _*)
        val src = Sources.docsStream(s, dir)
          .select(col("doc_id"), sh.as("sh"))
          .where(size(col("sh")) > 0)
          .select(col("doc_id"),
            transform(col("sh"), x => DedupOps.portableHash(x, 0)).as("hs"))
          .select(col("doc_id"), sig.as("mh"))
          .select(col("doc_id"), col("mh"),
            explode(DedupOps.lshBandKeys(col("mh"), 8, 4)).as("bk"))
          .select(col("bk"), col("doc_id"), col("mh"))
          .as[StreamingIngest.BandedDoc]
        StreamingIngest.drainTable(StreamingIngest.nearDupHits(src, minAgree = 0.5), "neardup_sink")
          .groupBy("doc_id")
          .agg(min(struct(col("dup_of"), col("agree"))).as("m"))
          .select(col("doc_id"), col("m.dup_of").as("dup_of"),
            round(col("m.agree"), 4).as("est_sim"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |${DedupOps.minhashSigCtes(32)},
             |  banded AS (SELECT doc_id, mh,
             |                    unnest([b || ':' || md5(array_to_string(mh[b*4+1 : b*4+4], '_'))
             |                            for b in range(0, 8)]) AS bk
             |             FROM sig),
             |  pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             |                   a.mh AS ma, b.mh AS mb
             |            FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
             |  scored AS (SELECT da, db,
             |                    len(list_filter([ma[i] = mb[i] for i in range(1, 33)],
             |                                    x -> x)) / 32.0 AS agree
             |             FROM pairs),
             |  flagged AS (SELECT db AS doc_id, min(da) AS dup_of
             |              FROM scored WHERE agree >= 0.5 GROUP BY db)
             |SELECT f.doc_id, f.dup_of, round(s.agree, 4) AS est_sim
             |FROM flagged f JOIN scored s ON s.db = f.doc_id AND s.da = f.dup_of
             |ORDER BY f.doc_id""".stripMargin)),

    GQuery(
      "streaming_stream_join",
      (s, dir) => {
        // Differential check of STREAM-STREAM JOIN: views and purchases
        // are two independent watermarked FILE-SOURCE streams over the
        // same events parquet (round 6 — executors read both sides;
        // nothing transits the driver). Inner-join purchases to
        // same-user views within 1 hour, then reduce the append log per
        // user — must equal the batch range-join oracle exactly. Inner
        // stream-stream joins emit matches as they form (the watermark
        // only governs state eviction), so no sentinel rows are needed;
        // eviction-safety under staggered batch cuts is covered by
        // StreamingSpec's multi-batch stream-stream join tests.
        val v = Sources.eventsStream(s, dir)
          .where(col("event_type") === "view")
          .select(col("ts").cast("timestamp").as("vts"), col("user_id"))
          .withWatermark("vts", "1 hour")
        val b = Sources.eventsStream(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("ts").cast("timestamp").as("bts"),
            col("user_id").as("buser"), col("value"))
          .withWatermark("bts", "1 hour")
        val joined = v.join(b,
          col("user_id") === col("buser") &&
            col("bts") >= col("vts") &&
            col("bts") <= col("vts") + expr("INTERVAL 1 HOUR"))
        StreamingIngest.drainTable(joined, "ssj_sink")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_attr"), round(sum("value"), 2).as("sv"))
          .orderBy("user_id")
      },
      Some("""SELECT e1.user_id, count(*) AS n_attr, round(sum(e2.value), 2) AS sv
             |FROM events e1 JOIN events e2
             |  ON e1.user_id = e2.user_id
             | AND e1.event_type = 'view' AND e2.event_type = 'purchase'
             | AND e2.ts::TIMESTAMP >= e1.ts::TIMESTAMP
             | AND e2.ts::TIMESTAMP <= e1.ts::TIMESTAMP + INTERVAL 1 HOUR
             |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin)),

    GQuery(
      "asof_join",
      (s, dir) => {
        // As-of join: each event gets the customer's most recent order at
        // event time (union + carry-forward window — one shuffle, no
        // pairwise range join; see graft.plans.AsOfJoin). Same-date ties
        // resolve to the max o_orderkey INSIDE the window sort
        // (rightTiebreak) — round 1 pre-deduped the right side with a
        // latest-wins aggregate, which cost a whole extra shuffle of
        // orders for the same answer.
        val ev = Tables.t(s, dir, "events").select("event_id", "user_id", "ts")
        val ord = Tables.t(s, dir, "orders")
          .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        AsOfJoin.asof(ev, ord,
            leftKey = "user_id", rightKey = "o_custkey",
            leftTime = "ts", rightTime = "o_orderdate",
            rightPayload = Seq("o_orderkey", "o_totalprice"),
            rightTiebreak = Seq("o_orderkey"))
          .select(col("event_id"), col("user_id"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderdate,
             |                  arg_max(o_orderkey, o_orderkey) AS o_orderkey,
             |                  arg_max(o_totalprice, o_orderkey) AS o_totalprice
             |           FROM orders GROUP BY o_custkey, o_orderdate)
             |SELECT event_id, user_id, o_orderkey,
             |       round(o_totalprice, 2) AS o_totalprice
             |FROM events ASOF LEFT JOIN o
             |  ON user_id = o_custkey AND ts::TIMESTAMP >= o_orderdate
             |ORDER BY event_id""".stripMargin),
      bench = true),

    GQuery(
      "asof_join_forward",
      (s, dir) => {
        // FORWARD as-of: each order gets the customer's NEXT event at or
        // after the order date ("first activity after purchase") — the
        // mirror of asof_join, same union + single-shuffle window plan
        // but carrying the earliest following right row backward
        // (AsOfJoin.asofForward). Ties at equal (key, time) resolve to
        // the min event_id INSIDE the window sort.
        val ord = Tables.t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val ev = Tables.t(s, dir, "events")
          .select("user_id", "ts", "event_id", "event_type")
        AsOfJoin.asofForward(ord, ev,
            leftKey = "o_custkey", rightKey = "user_id",
            leftTime = "o_orderdate", rightTime = "ts",
            rightPayload = Seq("event_id", "event_type"),
            rightTiebreak = Seq("event_id"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("event_id"), col("event_type"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey, e.event_id, e.event_type
             |FROM orders o LEFT JOIN LATERAL (
             |  SELECT event_id, event_type FROM events ev
             |  WHERE ev.user_id = o.o_custkey AND ev.ts::TIMESTAMP >= o.o_orderdate
             |  ORDER BY ev.ts, ev.event_id LIMIT 1) e ON true
             |ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "udaf_latest_typed",
      (s, dir) => {
        // Typed Aggregator[IN, BUF, OUT] surface — the reference dedup as
        // a reusable user-defined aggregate (partial-agg friendly).
        import s.implicits._
        Tables.t(s, dir, "events")
          .select(col("user_id"), col("event_id").as("version"),
            col("event_type").as("value"))
          .as[(Long, Long, String)]
          .groupByKey(_._1)
          .mapValues(r => VersionedValue(r._2, r._3))
          .agg(LatestAggregator.latestByVersion.toColumn.name("msg"))
          .toDF("user_id", "msg")
          .orderBy("user_id")
      },
      Some("""SELECT user_id, arg_max(event_type, event_id) AS msg
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "join_fk_eliminated",
      (s, dir) => {
        // CONSTRAINT-DRIVEN JOIN ELIMINATION (plans/ConstraintRules):
        // the query joins orders to customer over the declared foreign
        // key but uses only child columns — the wide-view shape BI
        // tools generate constantly. With the FK declared, the rule
        // drops the join AND the customer scan (row-preserving: each
        // order matches exactly one customer). The `eliminated` flag
        // is derived from the query's own optimized plan (one leaf
        // left); the oracle computes the aggregate over the JOIN and
        // asserts true, so both a row-count-changing elimination and a
        // silently-dead rule fail the hash compare.
        import graft.plans.ConstraintRules
        val orders = Tables.t(s, dir, "orders")
        val customer = Tables.t(s, dir, "customer")
        ConstraintRules.clear()
        ConstraintRules.declareForeignKey("orders_customer",
          orders, "o_custkey", customer, "c_custkey")
        try GraftSession.pinned(s, rules = Seq(ConstraintRules)) {
          val q = orders
            .join(customer, col("o_custkey") === col("c_custkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
            .orderBy("o_orderpriority")
          val eliminated =
            q.queryExecution.optimizedPlan.collectLeaves().length == 1
          q.withColumn("eliminated", lit(eliminated))
        } finally ConstraintRules.clear()
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS eliminated
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    GQuery(
      "udf_surface",
      (s, dir) => {
        // Scala UDF registration surface. (Native functions beat UDFs in
        // the hot path — this exists for API-surface parity; the same
        // logic is expressed natively in every other query.)
        val priorityRank = udf((p: String) => p.substring(0, 1).toInt * 10)
        s.udf.register("priority_rank", priorityRank)
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"),
            priorityRank(col("o_orderpriority")).cast("long").as("prank"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       CAST(substring(o_orderpriority, 1, 1) AS BIGINT) * 10 AS prank
             |FROM orders ORDER BY o_orderkey""".stripMargin))
  )
}
