package graft.operators

import graft.GQuery
import graft.sources.Sources
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Watermark-EDGE streaming semantics — the three shapes whose
  * correctness lives exactly at the watermark boundary, each driven from
  * the file source through a memory sink and differentially checked
  * against the batch oracle:
  *
  *  - **at-least-once → exactly-once** (`streaming_dropdup_watermark`):
  *    the same events file-stream is consumed TWICE and unioned — every
  *    record arrives at least twice, in whatever batch interleaving the
  *    two sources produce — and `dropDuplicatesWithinWatermark` must
  *    reconstruct exactly-once counts. The dedup horizon spans the whole
  *    event range, so no batch cut can evict a key before its replica
  *    arrives (the determinism contract; with a short horizon the result
  *    would depend on scheduling).
  *  - **stream-stream LEFT OUTER join** (`streaming_outer_join`):
  *    unmatched views must be EMITTED WITH NULLS, which only happens
  *    once the watermark passes their join window — the tail views
  *    therefore need watermark-advancing sentinels (the established
  *    `streaming_windowed_counts` pattern) or they would sit in state
  *    forever and the result would be the inner join.
  *  - **chained windowed aggregations** (`streaming_chained_windows`):
  *    15-minute per-user windows re-aggregated into hourly totals in ONE
  *    streaming query — watermark propagation through the first
  *    stateful operator must close the second's windows too.
  *
  * Scale stances: all three are executor-side file-source reads (bulk
  * rows never transit the driver); dedup state is O(live keys) and
  * watermark-bounded; join state is O(rows inside the watermark
  * horizon) per side; the chained aggregate's second stage consumes
  * |user × quarter| partial rows, not events. The memory sinks hold
  * only per-group/appended results at test scale — production swaps
  * them for the kafkalog/versioned sinks already registered.
  */
object StreamEdgeOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "streaming_dropdup_watermark",
      (s, dir) => {
        // Two independent scans of the same events glob, unioned: the
        // at-least-once feed. dropDuplicatesWithinWatermark on event_id
        // keeps the first arrival; replicas carry identical payloads so
        // the kept row is deterministic regardless of which source wins
        // the race. Horizon = 31 days > the whole event span → no
        // eviction can split a replica pair across state lifetimes. The
        // oracle is the PLAIN batch aggregate over events — a single
        // leaked duplicate shifts n and sv and fails the hash.
        val feed = Sources.eventsStream(s, dir)
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
            col("event_type"), col("value"))
        val src = feed.union(
          Sources.eventsStream(s, dir)
            .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("event_type"), col("value")))
        val dd = StreamingIngest.dedupWithinWatermark(
          src, eventTimeCol = "ts", delay = "744 hours", keys = Seq("event_id"))
        StreamingIngest.drainTable(dd, "sdw_sink")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("event_id")).as("n_ids"),
            round(sum("value"), 2).as("sv"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |       count(DISTINCT event_id) AS n_ids,
             |       round(sum(value), 2) AS sv
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "streaming_outer_join",
      (s, dir) => {
        // Views LEFT OUTER purchases (same user, purchase within 1 hour
        // after the view). Matches stream out as they form; the NULL
        // rows for never-matched views are held in state until the
        // watermark proves no match can still arrive — sentinel rows on
        // BOTH sides push the watermark past the data so every view
        // resolves. The per-user reduce counts views, matches, and
        // matched value — against the batch LEFT JOIN oracle.
        import s.implicits._
        val msV = MemoryStream[(java.sql.Timestamp, Long)](s)
        val v = Sources.eventsStream(s, dir)
          .where(col("event_type") === "view")
          .select(col("ts").cast("timestamp").as("vts"), col("user_id"))
          .union(msV.toDF().toDF("vts", "user_id"))
          .withWatermark("vts", "1 hour")
        val msB = MemoryStream[(java.sql.Timestamp, Long, Double)](s)
        val b = Sources.eventsStream(s, dir)
          .where(col("event_type") === "purchase")
          .select(col("ts").cast("timestamp").as("bts"),
            col("user_id").as("buser"), col("value"))
          .union(msB.toDF().toDF("bts", "buser", "value"))
          .withWatermark("bts", "1 hour")
        val joined = v.join(b,
          col("user_id") === col("buser") &&
            col("bts") >= col("vts") &&
            col("bts") <= col("vts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        StreamingIngest.drainTable(joined, "soj_sink",
            flush = StreamingIngest.sentinelSteps(Sources.eventsEndMs(s, dir), 2, 7200000L) { t =>
              msV.addData((t, -1L))
              msB.addData((t, -1L, 0.0))
            })
          .where(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("bts")).as("n_matched"),
            round(coalesce(sum("value"), lit(0.0)), 2).as("sv"))
          .orderBy("user_id")
      },
      Some("""SELECT e1.user_id, count(*) AS n_rows,
             |       count(e2.ts) AS n_matched,
             |       round(coalesce(sum(e2.value), 0.0), 2) AS sv
             |FROM events e1 LEFT JOIN events e2
             |  ON e1.user_id = e2.user_id
             | AND e2.event_type = 'purchase'
             | AND e2.ts::TIMESTAMP >= e1.ts::TIMESTAMP
             | AND e2.ts::TIMESTAMP <= e1.ts::TIMESTAMP + INTERVAL 1 HOUR
             |WHERE e1.event_type = 'view'
             |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin)),

    GQuery(
      "streaming_chained_windows",
      (s, dir) => {
        // TWO stateful aggregations chained in one streaming query:
        // events → per-(15-minute window, user) counts → re-windowed
        // per-hour totals (events + active user-quarters). The second
        // aggregate groups on window(window, '1 hour') — watermark
        // propagation closes its windows when the first stage's close.
        // Sentinels (user_id = -1) flush the tail hours; they must NOT
        // be filtered inside the streaming plan — a deterministic
        // predicate on a grouping column pushes below the aggregate AND
        // below EventTimeWatermark, silently re-filtering the sources
        // so the watermark never advances (observed: wm pinned at the
        // bulk max forever). Instead the sentinels flow through both
        // stages and their hours — which land days past the data — are
        // dropped batch-side below.
        import s.implicits._
        val endMs = Sources.eventsEndMs(s, dir)
        val ms = MemoryStream[(java.sql.Timestamp, Long)](s)
        val src = Sources.eventsStream(s, dir)
          .select(col("ts").cast("timestamp").as("ts"), col("user_id"))
          .union(ms.toDF().toDF("ts", "user_id"))
        val quarters = src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "15 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val hours = quarters
          .groupBy(window(col("window"), "1 hour"))
          .agg(sum("n").as("n_events"),
            count(lit(1)).as("n_user_quarters"))
        // three sentinel rounds, not two: each stateful stage closes
        // against the watermark of the PREVIOUS batch, so the chained
        // second aggregate trails the first by one more advance
        StreamingIngest.drainTable(hours, "scw_sink",
            flush = StreamingIngest.sentinelSteps(endMs, 3, 7200000L) { t => ms.addData((t, -1L)) })
          // drop the sentinel hours (first lands 2h past endMs; real
          // hours all start <= endMs)
          .where(col("window.start") <= lit(new java.sql.Timestamp(endMs)))
          .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hs"),
            col("n_events"), col("n_user_quarters"))
          .orderBy("hs")
      },
      Some("""WITH q AS (SELECT time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) AS qs,
             |                  user_id, count(*) AS n
             |           FROM events GROUP BY 1, 2)
             |SELECT strftime(date_trunc('hour', qs), '%Y-%m-%d %H:%M:%S') AS hs,
             |       CAST(sum(n) AS BIGINT) AS n_events,
             |       CAST(count(*) AS BIGINT) AS n_user_quarters
             |FROM q GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
