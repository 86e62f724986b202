package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 wave 5: rolling correlation between two series, open-order
  * backlog via a sweep line, Zipf rank-frequency slope, and product-
  * quantization code assignment. All DuckDB-oracle-checked.
  */
object SignalOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "window_rolling_corr",
      (s, dir) => {
        // Rolling 14-day CORRELATION between two metric series (do
        // purchases track views this fortnight?) — the co-movement
        // monitor behind every metric-drift alert. The event stream
        // collapses to |days| rows FIRST (one keyed aggregate with the
        // conditional sums as columns); the corr window then runs over
        // that tiny frame — never over raw events. corr is a co-moment
        // window aggregate: one pass, O(1) state per row.
        val daily = Tables.t(s, dir, "events")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(
            round(sum(when(col("event_type") === "purchase", col("value"))), 2).as("p"),
            round(sum(when(col("event_type") === "view", col("value"))), 2).as("v"))
        val w = Window.orderBy("d").rowsBetween(-13, 0)
        daily.select(col("d"), round(corr("p", "v").over(w), 4).as("c"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT ts::DATE AS d,
             |                      round(sum(value) FILTER (event_type = 'purchase'), 2) AS p,
             |                      round(sum(value) FILTER (event_type = 'view'), 2) AS v
             |               FROM events GROUP BY 1)
             |SELECT d, round(corr(p, v) OVER (ORDER BY d
             |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 4) AS c
             |FROM daily ORDER BY d""".stripMargin)),

    GQuery(
      "orders_backlog",
      (s, dir) => {
        // Open-order BACKLOG by day — the sweep-line pattern: each order
        // contributes +1 at placement and -1 at its last shipment, the
        // running sum of the daily net is the live backlog. Interval
        // counting without ever materializing intervals × days: events
        // collapse to |days| rows before the one unpartitioned window
        // (same |days|-bounded stance as events_wow_growth; at scale the
        // window input is thousands of rows regardless of order volume).
        val opens = Tables.t(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("d"), lit(1L).as("delta"))
        val closes = Tables.t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(max("l_shipdate").as("last_ship"))
          .select(to_date(col("last_ship")).as("d"), lit(-1L).as("delta"))
        opens.unionAll(closes)
          .groupBy("d").agg(sum("delta").as("net"))
          .select(col("d"),
            sum("net").over(Window.orderBy("d")
              .rowsBetween(Window.unboundedPreceding, 0)).as("backlog"))
          .orderBy("d")
      },
      Some("""WITH open AS (SELECT o_orderdate::DATE AS d, 1 AS delta FROM orders),
             | closed AS (SELECT max(l_shipdate)::DATE AS d, -1 AS delta
             |            FROM lineitem GROUP BY l_orderkey),
             | ev AS (SELECT d, sum(delta) AS net
             |        FROM (SELECT * FROM open UNION ALL SELECT * FROM closed)
             |        GROUP BY 1)
             |SELECT d, (sum(net) OVER (ORDER BY d
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS backlog
             |FROM ev ORDER BY d""".stripMargin)),

    GQuery(
      "text_zipf_slope",
      (s, dir) => {
        // ZIPF rank-frequency fit: regression slope of log(freq) on
        // log(rank) over the top-100 vocabulary — the one-number corpus
        // health check (natural text ≈ -1; templated/synthetic corpora
        // flatten). Term counts map-side combine; the rank window and
        // the regression run over ≤100 rows. regr_slope/intercept are
        // one-pass co-moment aggregates.
        val tf = Tables.t(s, dir, "documents")
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val rk = tf.withColumn("r",
          row_number().over(Window.orderBy(desc("c"), asc("w"))))
          .where(col("r") <= 100)
        rk.agg(
            round(regr_slope(log(col("c")), log(col("r"))), 4).as("slope"),
            round(regr_intercept(log(col("c")), log(col("r"))), 4).as("intercept"),
            count(lit(1)).as("n_terms"))
      },
      Some("""WITH tf AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
             |            FROM documents),
             | cnt AS (SELECT w, count(*) AS c FROM tf GROUP BY 1),
             | rk AS (SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt)
             |SELECT round(regr_slope(ln(c), ln(r)), 4) AS slope,
             |       round(regr_intercept(ln(c), ln(r)), 4) AS intercept,
             |       count(*)::BIGINT AS n_terms
             |FROM rk WHERE r <= 100""".stripMargin)),

    GQuery(
      "emb_pq_codes",
      (s, dir) => {
        // PRODUCT QUANTIZATION code assignment: 64 dims → 8 subspaces of
        // 8; each subvector snaps to its nearest of 4 seed centroids
        // (deterministic seeds = the 4 lowest vec_ids, same oracle-able
        // stance as dedup_semantic's coarse quantizer); a vector's code
        // is its 8 centroid digits. This is the vector-compression step
        // under IVF-PQ indexes: 64 floats become 8 2-bit digits. The
        // seed table broadcasts (32 subvectors); distances are
        // sequential-order sums, so assignment ties and scores replay
        // bit-identically in the oracle. One argmin window + one
        // sorted-collect per vector.
        val e = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), _.cast("double")).as("em"))
        def subvectors(df: org.apache.spark.sql.DataFrame) =
          df.select(col("vec_id"), posexplode(
              array((0 until 8).map(j => slice(col("em"), j * 8 + 1, 8)): _*)))
            .select(col("vec_id"), col("pos").as("ss"), col("col").as("sv"))
        val sub = subvectors(e)
        // seed subvectors sliced directly from the LIMITED vectors (not
        // joined out of the full subvector frame), so the broadcast
        // payload is bounded by a GlobalLimit ON the fact-scan path —
        // the shape the path-sensitive broadcast-fact lint certifies —
        // and the seed build needs no join at all
        val seeds = subvectors(e.orderBy("vec_id").limit(4))
          .select(col("vec_id").as("sid"), col("ss").as("css"), col("sv").as("cv"))
        // codegen L2² kernel — bit-identical to the sequential zip_with
        // HOF form and the oracle's list_sum (see SquaredL2)
        val d2: Column = graft.functions.SquaredL2.squared_l2("sv", "cv")
        val assigned = sub.join(broadcast(seeds), col("ss") === col("css"))
          .select(col("vec_id"), col("ss"), col("sid"), d2.as("d2"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id", "ss").orderBy(asc("d2"), asc("sid"))))
          .where(col("rn") === 1)
        assigned.groupBy("vec_id")
          .agg(concat_ws("", array_sort(collect_list(
            concat(col("ss"), lit(":"), col("sid"))))).as("code"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             | sub AS (SELECT vec_id, unnest([{'ss': j, 'sv': em[j*8+1:j*8+8]}
             |                                for j in range(0, 8)], recursive := true)
             |         FROM e),
             | seeds AS (SELECT e.vec_id AS sid, s.ss AS css, s.sv AS cv
             |           FROM sub s JOIN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4) e
             |             ON s.vec_id = e.vec_id),
             | scored AS (SELECT sub.vec_id, sub.ss, seeds.sid,
             |                   list_sum([ (sub.sv[i] - seeds.cv[i]) * (sub.sv[i] - seeds.cv[i])
             |                              for i in range(1, len(sub.sv) + 1)]) AS d2
             |            FROM sub JOIN seeds ON sub.ss = seeds.css),
             | best AS (SELECT vec_id, ss, sid FROM (
             |            SELECT vec_id, ss, sid,
             |                   row_number() OVER (PARTITION BY vec_id, ss
             |                                      ORDER BY d2, sid) AS rn
             |            FROM scored) WHERE rn = 1)
             |SELECT vec_id,
             |       array_to_string(list_sort(list(ss || ':' || sid)), '') AS code
             |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    GQuery(
      "events_cusum_changepoint",
      (s, dir) => {
        // CHANGE-POINT DETECTION via one-sided CUSUM over the daily
        // event-count series: S_t = max(0, S_{t-1} + dev_t − slack),
        // change point = the earliest day of the maximum statistic.
        // The sequential fold (max-with-reset — NOT a window function)
        // runs as an `aggregate` HOF over the day series collected into
        // ONE row: |days| is calendar-bounded, so the array is tiny by
        // construction while the daily counts underneath remain a
        // distributed aggregate — the same bounded-window stance as
        // every |days|-sized single-partition op in PLANS.md. All
        // integer arithmetic: dev_t = |days|·n_t − total (deviation
        // scaled by |days| to avoid division), slack = total div 20.
        val daily = Tables.t(s, dir, "events")
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg(count(lit(1)).as("n"))
        daily
          .agg(
            sort_array(collect_list(struct(col("day"), col("n")))).as("ds"),
            sum(col("n")).as("total"),
            count(lit(1)).as("nd"))
          .select(col("total"), col("nd"),
            expr("""aggregate(ds,
                 |  struct(cast(array() as array<struct<day:string,s:bigint>>) as acc,
                 |         cast(0 as bigint) as s),
                 |  (a, d) -> struct(
                 |    concat(a.acc, array(named_struct(
                 |      'day', d.day,
                 |      's', greatest(cast(0 as bigint),
                 |                    a.s + nd * d.n - total - total div 20)))),
                 |    greatest(cast(0 as bigint),
                 |             a.s + nd * d.n - total - total div 20)),
                 |  a -> a.acc)""".stripMargin).as("ss"))
          .select(explode(col("ss")).as("e"))
          .select(col("e.day").as("change_day"), col("e.s").as("cusum"))
          .orderBy(desc("cusum"), asc("change_day")).limit(1)
      },
      Some("""WITH RECURSIVE
             |  daily AS (SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
             |                   CAST(count(*) AS BIGINT) AS n
             |            FROM events GROUP BY 1),
             |  tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
             |                 CAST(count(*) AS BIGINT) AS nd FROM daily),
             |  seq AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM daily),
             |  cusum(i, day, s) AS (
             |    SELECT i, day, greatest(0, nd * n - total - total // 20)
             |    FROM seq, tot WHERE i = 1
             |    UNION ALL
             |    SELECT seq.i, seq.day,
             |           greatest(0, cusum.s + nd * seq.n - total - total // 20)
             |    FROM cusum JOIN seq ON seq.i = cusum.i + 1, tot)
             |SELECT day AS change_day, CAST(s AS BIGINT) AS cusum
             |FROM cusum ORDER BY cusum DESC, change_day LIMIT 1""".stripMargin)),

    GQuery(
      "events_active_coverage",
      (s, dir) => {
        // INTERVAL-UNION COVERAGE (sweep line): each event opens a
        // 5-minute activity interval; per user, the total UNION length
        // (overlaps merged, not double-counted) — the uptime/engaged-
        // time primitive naive sum-of-durations gets wrong. Classic
        // sweep: +1 at starts, −1 at ends, sorted with starts first at
        // ties so touching intervals merge; covered time = Σ gaps where
        // the running count stays positive. ONE keyed window pass over
        // 2 edges/event, exact integer micros; the per-user sweep
        // shuffles each user's edges once — no interval self-join, no
        // N² overlap pairs.
        val iv = lit(300000000L) // 5 min in micros
        val ev = Tables.t(s, dir, "events")
          .select(col("user_id"), expr("ts_ns div 1000").as("us"))
        val edges = ev.select(col("user_id"), col("us").as("t"), lit(1L).as("d"))
          .unionByName(ev.select(col("user_id"), (col("us") + iv).as("t"),
            lit(-1L).as("d")))
        val w = Window.partitionBy("user_id").orderBy(col("t").asc, col("d").desc)
        val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val covered = edges
          .withColumn("active", sum(col("d")).over(wRows))
          .withColumn("nxt", lead(col("t"), 1).over(w))
          .where(col("active") > 0 && col("nxt").isNotNull)
          .groupBy("user_id")
          .agg(sum(col("nxt") - col("t")).as("covered_us"))
        ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
          .join(covered, "user_id")
          .select(col("user_id"), col("n_events"), col("covered_us"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events),
             |     edges AS (SELECT user_id, us AS t, 1 AS d FROM ev
             |               UNION ALL
             |               SELECT user_id, us + 300000000, -1 FROM ev),
             |     swept AS (SELECT user_id, t, d,
             |                      sum(d) OVER (PARTITION BY user_id
             |                        ORDER BY t, d DESC
             |                        ROWS UNBOUNDED PRECEDING) AS active,
             |                      lead(t) OVER (PARTITION BY user_id
             |                        ORDER BY t, d DESC) AS nxt
             |               FROM edges),
             |     cov AS (SELECT user_id, CAST(sum(nxt - t) AS BIGINT) AS covered_us
             |             FROM swept WHERE active > 0 AND nxt IS NOT NULL
             |             GROUP BY user_id)
             |SELECT ev.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_events,
             |       covered_us
             |FROM ev JOIN cov ON ev.user_id = cov.user_id
             |GROUP BY ev.user_id, covered_us ORDER BY ev.user_id""".stripMargin)),

    GQuery(
      "events_theilsen_slope",
      (s, dir) => {
        // THEIL-SEN robust trend: the median of all pairwise slopes of
        // the daily event-count series — a single outlier day (a
        // backfill spike, an outage) that would wreck OLS barely moves
        // it (29% breakdown point vs 0%). The pair space is
        // |days|²/2 — calendar-BOUNDED, so the self-join is a
        // ~400-row product over an aggregate, never over events.
        // Slopes are FLOOR-scaled int64 via floor() on an exact double
        // quotient on BOTH engines — Spark's integer `div` truncates
        // toward zero while DuckDB's `//` floors, so negative
        // non-divisible slopes would differ by 1 and could move the
        // median. floor(N/D) is exact here: N, D are int64 with
        // |N/D - m| ≥ 1/D for any integer m it doesn't equal, far
        // beyond a double ulp at these magnitudes. Median picked at
        // the lower rank under a (slope, i, j) total order.
        val daily = Tables.t(s, dir, "events")
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .agg(count(lit(1)).as("n"))
          .withColumn("i", row_number().over(
            Window.orderBy("day")).cast("long"))
        val pairs = daily.as("a").join(daily.as("b"), col("a.i") < col("b.i"))
          .select(col("a.i").as("i"), col("b.i").as("j"),
            expr("floor(((b.n - a.n) * 10000) / (b.i - a.i))").as("slope_e4"))
        val ranked = pairs.withColumn("rk", row_number().over(
            Window.orderBy(col("slope_e4").asc, col("i").asc, col("j").asc))
          .cast("long"))
        val n = ranked.agg(count(lit(1)).as("n_pairs"))
        ranked.crossJoin(broadcast(n))
          .where(col("rk") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"), col("slope_e4").as("median_slope_e4"))
      },
      Some("""WITH daily AS (SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
             |                      CAST(count(*) AS BIGINT) AS n
             |               FROM events GROUP BY 1),
             |     seq AS (SELECT n, row_number() OVER (ORDER BY day) AS i FROM daily),
             |     pairs AS (SELECT a.i AS i, b.i AS j,
             |                      CAST(floor(CAST((b.n - a.n) * 10000 AS DOUBLE)
             |                                 / (b.i - a.i)) AS BIGINT) AS slope_e4
             |               FROM seq a JOIN seq b ON a.i < b.i),
             |     ranked AS (SELECT slope_e4,
             |                       row_number() OVER (ORDER BY slope_e4, i, j) AS rk,
             |                       count(*) OVER () AS n_pairs
             |                FROM pairs)
             |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
             |       CAST(slope_e4 AS BIGINT) AS median_slope_e4
             |FROM ranked WHERE rk = (n_pairs + 1) // 2""".stripMargin))
  )
}
