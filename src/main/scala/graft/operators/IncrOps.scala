package graft.operators

import graft.{GQuery, GraftSession, Scratch, Tables}
import graft.plans.SummaryRewriteRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-maintenance operators: refreshing derived tables from a
  * delta WITHOUT rescanning history. The reference pipeline's answer to
  * "the topic grew" is to re-read the whole topic and rebuild the snapshot
  * (`HadoopKafkaConsumer.java:55-101`); `ingest_incremental_merge` already
  * shows the latest-wins (argmax-mergeable) version of doing better. This
  * module adds the OTHER mergeable-state class: commutative-monoid
  * aggregates (count/sum, and anything derivable from them, like avg),
  * where a stored partial-aggregate table absorbs a delta with one small
  * merge instead of a full-history rescan.
  *
  * At 100 TB this is the difference between a nightly job that scans the
  * delta (GBs) and one that scans the corpus (TBs): the merge input is
  * |groups| + |delta|, both orders of magnitude below |history|, and the
  * merge itself is the same partial/final hash aggregate Spark already
  * uses inside every groupBy — re-expressed across job boundaries.
  */
object IncrOps {

  /** Partial-aggregate state per month: additive (count, cents) pairs.
    * Money is carried as integer CENTS so the merged result is bit-exact
    * regardless of summation order or engine.
    */
  def monthlyPartials(df: DataFrame): DataFrame =
    df.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  /** Merge stored partials with delta partials: union + re-aggregate.
    * Union-then-agg rather than a full-outer join: it is one hash
    * aggregate, handles keys present on either side for free, and is the
    * exact combine step a partial/final aggregation performs inside one
    * query — here made durable across jobs.
    */
  def mergePartials(base: DataFrame, delta: DataFrame): DataFrame =
    mergePartials(Seq(base, delta))

  /** N-ary merge: ONE union + ONE hash aggregate however many partial
    * sets combine (a fold of pairwise merges would stack an aggregation
    * exchange per step).
    */
  def mergePartials(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy("month")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("cents")).as("cents"))

  /** Partial-aggregate state for the DERIVED-AVG tier: sum AND count of
    * the SAME cents expression, so `avg(cents)` is answerable as
    * sum/count. The count is `count(x)` — not `count(*)` — because
    * o_totalprice is nullable in the schema and avg divides by the
    * non-null count; SummaryRewriteRule.deriveAvg only accepts a
    * row count when the child is provably non-nullable.
    */
  def monthlyAvgPartials(df: DataFrame): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    df.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(cents).as("cents"), count(cents).as("n_vals"))
  }

  /** Partial aggregates of the orders ⋈ lineitem join, keyed by order
    * month: additive (count, cents) over the JOIN rows — the maintained
    * state of an incremental join view. Same column names as
    * [[monthlyPartials]] so [[mergePartials]] merges either kind.
    */
  def joinMonthlyPartials(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderdate"))
      .join(lineitem.select(col("l_orderkey"), col("l_extendedprice")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))

  /** A view-serving differential's answer: `query`, built and pinned
    * while [[SummaryRewriteRule]] serves the view `name` (`definition`,
    * stored as `materialized` under `mvPath`), plus `used_mv`: whether
    * the query's own optimized plan reads `mvPath`. The registry is
    * cleared and the rule removed before this returns, so no view
    * reaches another query.
    */
  private def servedFromView(s: SparkSession, name: String, definition: DataFrame,
      materialized: DataFrame, mvPath: String)(query: => DataFrame): DataFrame =
    SummaryRewriteRule.serving(s, (name, definition, materialized)) {
      GraftSession.pinned(s) {
        val q = query
        q.withColumn("used_mv",
          lit(SummaryRewriteRule.scansPath(q.queryExecution.optimizedPlan, mvPath)))
      }
    }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "agg_incremental_refresh",
      (s, dir) => {
        // INCREMENTAL AGGREGATE REFRESH: the maintained table is monthly
        // (n_orders, revenue) over orders. History is cut at 1997-01-01:
        // everything before is the "stored" partial-aggregate state (in
        // production: yesterday's refresh output, read back from its
        // table — aggregated here because the fixture has no yesterday),
        // everything at/after is the delta. The refreshed output merges
        // the two partial sets and must equal a full-history recompute —
        // which is exactly what the oracle computes, so the hash match
        // IS the refresh-correctness proof. Cut months (a month with
        // rows on both sides) exercise the actual merge, not just
        // concatenation.
        val orders = Tables.t(s, dir, "orders")
        val cut = lit("1997-01-01").cast("timestamp")
        val base = monthlyPartials(orders.where(col("o_orderdate") < cut))
        val delta = monthlyPartials(orders.where(col("o_orderdate") >= cut))
        mergePartials(base, delta)
          .select(
            date_format(col("month"), "yyyy-MM").as("month"),
            col("n_orders"),
            col("cents").as("revenue_cents"),
            // derived metric from the partials: average order value in
            // whole cents (floor division keeps both engines in int64)
            expr("cents div n_orders").as("avg_cents"))
          .orderBy("month")
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // COUNT(*) AS BIGINT) AS avg_cents
             |FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_incremental_retract",
      (s, dir) => {
        // INCREMENTAL RETRACTION (deletion maintenance): a tombstone
        // set — here "every order whose key ≡ 0 (mod 53)", standing in
        // for a GDPR erasure batch — is absorbed into the maintained
        // monthly summary by merging NEGATED partials: count and sum
        // are abelian GROUPS (every element has an inverse), so a
        // delete is just a merge with (-n, -cents), the same one-shuffle
        // union+re-aggregate as the insert path. min/max are NOT
        // retractable this way (no inverse — a deleted max needs the
        // runner-up, i.e. a rescan); that asymmetry is why retraction-
        // complete systems (z-sets / DBSP) restrict to group
        // aggregates, and why this view stores none. A group whose
        // count reaches zero must VANISH, not linger as a zero row —
        // the trailing filter — and the oracle recomputes from history
        // minus the tombstones, so both a wrong merge and a lingering
        // empty group fail the hash. At 100 TB the retraction scans the
        // TOMBSTONES, never the corpus.
        val orders = Tables.t(s, dir, "orders")
        val stored = monthlyPartials(orders) // maintained state (full history here)
        val negated = monthlyPartials(orders.where(col("o_orderkey") % 53 === 0))
          .select(col("month"),
            (-col("n_orders")).as("n_orders"), (-col("cents")).as("cents"))
        mergePartials(stored, negated)
          .where(col("n_orders") > 0)
          .select(
            date_format(col("month"), "yyyy-MM").as("month"),
            col("n_orders"),
            col("cents").as("revenue_cents"))
          .orderBy("month")
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM orders WHERE o_orderkey % 53 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "join_incremental_refresh",
      (s, dir) => {
        // INCREMENTAL JOIN-VIEW MAINTENANCE: the maintained view is a
        // monthly rollup over orders ⋈ lineitem, and BOTH base tables
        // grow. With A = A0 ∪ dA and B = B0 ∪ dB the join distributes:
        //   A ⋈ B = (A0⋈B0) ∪ (A0⋈dB) ∪ (dA⋈B0) ∪ (dA⋈dB)
        // so the refresh merges the stored A0⋈B0 partials with THREE
        // delta terms and never re-joins the old×old quadrant — at
        // scale that term dominates (|A0|·|B0| history) while every
        // delta term is bounded by a delta side. The oracle is the
        // full-history join recomputed from scratch: the hash match IS
        // the algebraic identity. The old×delta terms still shuffle the
        // old side's keys; the production mitigation is bucketing both
        // tables on the join key (LayoutSpec's zero-exchange bucketed
        // join), making each term's exchange delta-only.
        val cut = lit("1997-01-01").cast("timestamp")
        val o = Tables.t(s, dir, "orders")
        val l = Tables.t(s, dir, "lineitem")
        val (o0, dO) = (o.where(col("o_orderdate") < cut),
          o.where(col("o_orderdate") >= cut))
        val (l0, dL) = (l.where(col("l_shipdate") < cut),
          l.where(col("l_shipdate") >= cut))
        val refreshed = mergePartials(Seq(
          joinMonthlyPartials(o0, l0), // the stored view state
          joinMonthlyPartials(o0, dL),
          joinMonthlyPartials(dO, l0),
          joinMonthlyPartials(dO, dL)))
        refreshed.select(
            date_format(col("month"), "yyyy-MM").as("month"),
            col("n_orders").as("n_rows"),
            col("cents").as("revenue_cents"))
          .orderBy("month")
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_mv_rewrite",
      (s, dir) => {
        // MATERIALIZED-VIEW QUERY REWRITE (plans/SummaryRewriteRule):
        // the monthly summary is materialized to parquet and registered;
        // the USER QUERY below is written against the BASE orders table,
        // and the optimizer rule transparently answers it from the
        // |months|-row summary — the read-side half of incremental view
        // maintenance (agg_incremental_refresh is the write side). The
        // emitted `used_mv` column is derived from the query's OWN
        // optimized plan (does a leaf scan the summary path?), and the
        // oracle asserts `true` — so this differential fails not only if
        // the rewrite corrupts results, but also if the rule silently
        // stops firing. At 100 TB the rewritten plan reads KBs instead
        // of scanning the fact table.
        val orders = Tables.t(s, dir, "orders")
        val mvPath = Scratch.dir("monthly_orders")
        monthlyPartials(orders).write.mode("overwrite").parquet(mvPath)
        servedFromView(s, "monthly_orders", monthlyPartials(orders),
            s.read.parquet(mvPath), mvPath) {
          monthlyPartials(orders)
            .select(date_format(col("month"), "yyyy-MM").as("month"),
              col("n_orders"), col("cents").as("revenue_cents"))
            .orderBy("month")
        }
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |       true AS used_mv
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_mv_derived_avg",
      (s, dir) => {
        // DERIVED-AGGREGATE VIEW SERVING (SummaryRewriteRule tier 2,
        // VERDICT r9 item 6): the user query asks for avg(cents); the
        // view stores only sum(cents) and count(cents). The rule
        // derives avg = cast(sum as double) / cast(count as double) —
        // the classic dashboard shape (one wide sum/count summary
        // serves every ratio metric) — instead of refusing. used_mv is
        // read off the query's own optimized plan and the oracle
        // asserts true, so a silently-dead derivation fails the hash
        // compare, not just a perf budget. Exactness: sum and count are
        // integral (cents as long), so both engines divide the same two
        // exact doubles — bit-identical results with DuckDB's
        // sum/count division.
        val orders = Tables.t(s, dir, "orders")
        val mvPath = Scratch.dir("monthly_avg_orders")
        monthlyAvgPartials(orders).write.mode("overwrite").parquet(mvPath)
        servedFromView(s, "monthly_avg_orders", monthlyAvgPartials(orders),
            s.read.parquet(mvPath), mvPath) {
          val cents = round(col("o_totalprice") * 100).cast("long")
          orders
            .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
            .agg(avg(cents).as("avg_cents"))
            .select(date_format(col("month"), "yyyy-MM").as("month"),
              col("avg_cents"))
            .orderBy("month")
        }
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             |         / COUNT(o_totalprice) AS avg_cents,
             |       true AS used_mv
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_mv_filter_serve",
      (s, dir) => {
        // FILTER-TIER VIEW SERVING (SummaryRewriteRule): the user query
        // carries `WHERE date_trunc('month', d) >= cut` — a predicate
        // on the GROUPING expression, the everyday dashboard
        // time-range shape. Such a predicate keeps or drops WHOLE
        // groups, so the rule re-applies it to the summary's month
        // column and serves the query from the |months|-row view: at
        // 100 TB the range never touches the fact table, and on a
        // date-partitioned summary it partition-prunes too. used_mv
        // comes from the query's own optimized plan; the oracle
        // recomputes from history with the same WHERE and asserts
        // true, so a wrong filter rebase and a silently-dead tier both
        // fail the hash compare.
        val orders = Tables.t(s, dir, "orders")
        val mvPath = Scratch.dir("monthly_orders_f")
        monthlyPartials(orders).write.mode("overwrite").parquet(mvPath)
        servedFromView(s, "monthly_orders_f", monthlyPartials(orders),
            s.read.parquet(mvPath), mvPath) {
          val cut = lit("1997-01-01").cast("timestamp")
          orders
            .where(date_trunc("month", col("o_orderdate")) >= cut)
            .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
            .agg(count(lit(1)).as("n_orders"),
              sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
            .select(date_format(col("month"), "yyyy-MM").as("month"),
              col("n_orders"), col("cents").as("revenue_cents"))
            .orderBy("month")
        }
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |       true AS used_mv
             |FROM orders
             |WHERE date_trunc('month', o_orderdate) >= TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "streaming_incremental_agg",
      (s, dir) => {
        // STREAMING AGGREGATE MAINTENANCE: the per-(day, event_type)
        // count/sum table is maintained across ≥4 admission-controlled
        // micro-batches from the kafkalog source by the crash-safe
        // generation fold (GenFold — each batch merges its delta
        // partials into the previous on-disk generation; per-batch cost
        // is |groups| + |delta|). This is the STREAMING write side of
        // the summary that agg_incremental_refresh refreshes in batch
        // and agg_mv_rewrite serves reads from; the oracle recomputes
        // the aggregate over full history, so any batch the fold loses,
        // double-merges, or mis-merges fails the hash compare.
        import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
        val (path, n) = KafkaLogOps.eventsTimedLog(s, dir)
        val out = Scratch.dir("incr_agg_state")
        val ckpt = Scratch.dir("incr_agg_ckpt")
        val timedSchema = StructType(Seq(
          StructField("us", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val aggSchema = StructType(Seq(
          StructField("day", StringType), StructField("event_type", StringType),
          StructField("n", LongType), StructField("cents", LongType)))
        val src = s.readStream.format("kafkalog")
          .option("maxOffsetsPerTrigger", math.max(1L, n / 4))
          .load(path)
          .select(from_json(col("value"), timedSchema).as("j"))
          .select(to_date(timestamp_micros(col("j.us"))).cast("string").as("day"),
            col("j.event_type").as("event_type"), col("j.value").as("value"))
        graft.streaming.GenFold.fold(src, out, ckpt, aggSchema) { (prev, batch) =>
          val delta = batch.groupBy("day", "event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
          prev.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        }
        graft.streaming.GenFold.read(s, out, aggSchema)
          .orderBy("day", "event_type")
      },
      Some("""SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day, event_type,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    GQuery(
      "agg_mv_streaming_serve",
      (s, dir) => {
        // THE FULL FRESHNESS LOOP in one differential: the per-day
        // summary is maintained FROM THE STREAM (kafkalog source →
        // GenFold, ≥4 admission-controlled micro-batches), registered
        // as a materialized view, and a USER QUERY against the BASE
        // events table is answered by SummaryRewriteRule from the
        // stream-maintained table — reads never touch the fact table,
        // writes never rescan history. The oracle is the full-history
        // aggregate plus used_mv=true from the query's own optimized
        // plan, so this fails if the fold mis-merges a batch OR the
        // rewrite stops firing.
        import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
        val (path, n) = KafkaLogOps.eventsTimedLog(s, dir)
        val out = Scratch.dir("mv_serve_state")
        val ckpt = Scratch.dir("mv_serve_ckpt")
        val timedSchema = StructType(Seq(
          StructField("us", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType)))
        val aggSchema = StructType(Seq(
          StructField("day", StringType), StructField("event_type", StringType),
          StructField("n", LongType), StructField("cents", LongType)))
        val src = s.readStream.format("kafkalog")
          .option("maxOffsetsPerTrigger", math.max(1L, n / 4))
          .load(path)
          .select(from_json(col("value"), timedSchema).as("j"))
          .select(to_date(timestamp_micros(col("j.us"))).cast("string").as("day"),
            col("j.event_type").as("event_type"), col("j.value").as("value"))
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("day", "event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 100).cast("long")).as("cents"))
        graft.streaming.GenFold.fold(src, out, ckpt, aggSchema) { (prev, batch) =>
          prev.unionByName(partials(batch))
            .groupBy("day", "event_type")
            .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        }
        // register the stream-maintained table as the view's
        // materialization; the DEFINITION is the equivalent base-table
        // aggregate the user query will repeat
        val events = Tables.t(s, dir, "events")
        def baseAgg = partials(events.select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value")))
        servedFromView(s, "daily_events", baseAgg,
            graft.streaming.GenFold.read(s, out, aggSchema),
            graft.streaming.GenFold.latestGen(out).get) {
          baseAgg.orderBy("day", "event_type")
        }
      },
      Some("""SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day, event_type,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS used_mv
             |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    GQuery(
      "agg_mv_rollup_serve",
      (s, dir) => {
        // ROLLUP-TIER VIEW SERVING: the materialized summary is
        // DAY-grained, the user query is MONTH-grained — the rewrite
        // rule re-aggregates the view's rows (count→sum, sum→sum)
        // through the date_trunc alignment lattice instead of refusing,
        // so ONE fine-grained summary serves every aligned coarser
        // dashboard. used_mv comes from the query's own optimized plan;
        // the oracle recomputes from full history and asserts true, so
        // both a wrong re-aggregation and a silently-dead rewrite fail.
        // At 100 TB the rollup input is |days|·|groups| rows, not the
        // fact table.
        val orders = Tables.t(s, dir, "orders")
        def dailyPartials = orders
          .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val mvPath = Scratch.dir("daily_orders")
        dailyPartials.write.mode("overwrite").parquet(mvPath)
        servedFromView(s, "daily_orders", dailyPartials,
            s.read.parquet(mvPath), mvPath) {
          monthlyPartials(orders)
            .select(date_format(col("month"), "yyyy-MM").as("month"),
              col("n_orders"), col("cents").as("revenue_cents"))
            .orderBy("month")
        }
      },
      Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             |       CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
             |       true AS used_mv
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
