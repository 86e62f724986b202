package graft

import graft.operators.IncrOps
import graft.plans.SummaryRewriteRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialized-view aggregate-rewrite rule: fires on an exact
  * match (and on column subsets), preserves results and downstream
  * operator wiring (exprIds), and refuses anything it cannot prove —
  * filtered children, different groupings.
  */
class SummaryRewriteSpec extends SparkSpec {

  private lazy val orders = Tables.t(spark, sf, "orders")
  private lazy val mvDir = {
    val d = Scratch.dir("mv_spec") + "/monthly"
    IncrOps.monthlyPartials(orders).write.mode("overwrite").parquet(d)
    d
  }

  private def monthlyView =
    ("monthly_orders", IncrOps.monthlyPartials(orders), spark.read.parquet(mvDir))

  private def scansMv(df: DataFrame): Boolean =
    SummaryRewriteRule.scansPath(df.queryExecution.optimizedPlan, mvDir)

  test("exact-match aggregate rewrites to the summary scan with identical results") {
    val expected = IncrOps.monthlyPartials(orders)
      .orderBy("month").collect()
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = IncrOps.monthlyPartials(orders).orderBy("month")
      assert(scansMv(q), "rewrite did not fire:\n" + q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("a query needing a subset of the view's columns rewrites too") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy("month")
      assert(scansMv(q), "subset rewrite did not fire:\n" + q.queryExecution.optimizedPlan)
      val base = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n")).orderBy("month")
      // compare against a no-rule run of the same query
      SummaryRewriteRule.clear()
      assert(q.collect().toSeq == base.collect().toSeq)
    }
  }

  test("a filtered query must NOT rewrite (the view has no filter)") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = IncrOps.monthlyPartials(
        orders.where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")))
      assert(!scansMv(q), "rewrite fired on a filtered child:\n" +
        q.queryExecution.optimizedPlan)
    }
  }

  test("an unrelated grouping must NOT rewrite; an ALIGNED coarser one rolls up") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      // grouping by a column unrelated to the view's month key: refuse
      val q = orders.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      assert(!scansMv(q), "rewrite fired across unrelated groupings:\n" +
        q.queryExecution.optimizedPlan)
      // year-from-month is bucket-aligned: the rollup tier serves it
      val build = () => orders
        .groupBy(date_trunc("year", col("o_orderdate")).as("y"))
        .agg(count(lit(1)).as("n")).orderBy("y")
      val y = build()
      assert(scansMv(y), "year-from-month rollup did not fire:\n" +
        y.queryExecution.optimizedPlan)
      SummaryRewriteRule.clear()
      assert(y.collect().toSeq == build().collect().toSeq)
    }
  }

  test("an aggregate the view does not store must NOT rewrite") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(max(col("o_totalprice")).as("mx"))
      assert(!scansMv(q), "rewrite fired for an unstored aggregate:\n" +
        q.queryExecution.optimizedPlan)
    }
  }

  test("scalar computation over stored aggregates rebases (date_format, div)") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = IncrOps.monthlyPartials(orders)
        .select(date_format(col("month"), "yyyy-MM").as("m"),
          expr("cents div n_orders").as("avg_cents"))
        .orderBy("m")
      assert(scansMv(q), "derived-output rewrite did not fire:\n" +
        q.queryExecution.optimizedPlan)
      SummaryRewriteRule.clear()
      val base = IncrOps.monthlyPartials(orders)
        .select(date_format(col("month"), "yyyy-MM").as("m"),
          expr("cents div n_orders").as("avg_cents"))
        .orderBy("m")
      assert(q.collect().toSeq == base.collect().toSeq)
    }
  }

  test("an avg() the view stores only as sum/count parts must NOT rewrite") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(avg(col("o_totalprice")).as("a"))
      assert(!scansMv(q), "avg() wrongly rewrote:\n" + q.queryExecution.optimizedPlan)
    }
  }

  // ---- filter tier ----

  test("filter tier: a predicate on the GROUPING expression rewrites and filters the view") {
    val cut = lit("1997-01-01").cast("timestamp")
    val build = () => orders
      .where(date_trunc("month", col("o_orderdate")) >= cut)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("month")
    val expected = build().collect()
    assert(expected.nonEmpty && expected.length <
      IncrOps.monthlyPartials(orders).count(),
      "fixture must straddle the cut for the test to mean anything")
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = build()
      assert(scansMv(q), "group-key filter did not rewrite:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("filter tier: equality and IN predicates on a derived group scalar rewrite") {
    val build = () => orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"))
      .where(date_format(col("month"), "yyyy") === "1996")
      .orderBy("month")
    val expected = build().collect()
    assert(expected.nonEmpty)
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = build()
      assert(scansMv(q), "scalar-over-group filter did not rewrite:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("filter tier: a predicate on a NON-grouping column must still refuse") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = orders
        .where(col("o_totalprice") > 1000.0)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"))
      assert(!scansMv(q), "non-group filter wrongly rewrote:\n" +
        q.queryExecution.optimizedPlan)
      // raw timestamp is finer than the month group: groups would be
      // PARTIALLY filtered — must refuse
      val q2 = orders
        .where(col("o_orderdate") >= lit("1995-06-15").cast("timestamp"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n"))
      assert(!scansMv(q2), "row-level filter wrongly rewrote:\n" +
        q2.queryExecution.optimizedPlan)
    }
  }

  test("filter tier: a DAY-level predicate serves a MONTH query from the DAY view") {
    val cut = lit("1995-06-15").cast("timestamp")
    val build = () => orders
      .where(date_trunc("day", col("o_orderdate")) >= cut)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("month")
    val expected = build().collect()
    assert(expected.nonEmpty)
    SummaryRewriteRule.serving(spark, dayView) {
      val q = build()
      assert(scansDayMv(q), "day-level filter rollup did not fire:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  // ---- derived-avg tier ----

  private def centsE = round(col("o_totalprice") * 100).cast("long")

  private lazy val avgMvDir = {
    val d = Scratch.dir("mv_spec_avg") + "/avg"
    IncrOps.monthlyAvgPartials(orders).write.mode("overwrite").parquet(d)
    d
  }

  private def avgView =
    ("monthly_avg_orders", IncrOps.monthlyAvgPartials(orders), spark.read.parquet(avgMvDir))

  private def scansAvgMv(df: DataFrame): Boolean =
    SummaryRewriteRule.scansPath(df.queryExecution.optimizedPlan, avgMvDir)

  test("derived avg: avg(x) is served from stored sum(x)+count(x)") {
    val build = () => orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(avg(centsE).as("a")).orderBy("month")
    val expected = build().collect()
    SummaryRewriteRule.serving(spark, avgView) {
      val q = build()
      assert(scansAvgMv(q), "derived avg did not fire:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("derived avg: count(*) does NOT stand in for count(x) when x is nullable") {
    // monthlyPartials stores count(1) + sum(cents); cents is nullable
    // (o_totalprice is), so avg(cents) must refuse — count(*) counts
    // rows avg must not divide by.
    SummaryRewriteRule.serving(spark, monthlyView) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(avg(centsE).as("a"))
      assert(!scansMv(q), "avg wrongly derived from count(*) with nullable child:\n" +
        q.queryExecution.optimizedPlan)
    }
  }

  test("derived avg: DISTINCT and decimal averages refuse") {
    SummaryRewriteRule.serving(spark, avgView) {
      val qd = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(expr("avg(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT))").as("a"))
      assert(!scansAvgMv(qd), "avg(DISTINCT) wrongly derived")
      val qdec = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(avg(col("o_totalprice").cast("decimal(12,2)")).as("a"))
      assert(!scansAvgMv(qdec), "decimal avg wrongly derived")
    }
  }

  test("derived avg rolls up: MONTH avg from a DAY sum/count view") {
    val dayAvgDir = Scratch.dir("mv_spec_davg") + "/davg"
    val dayAvg = orders.groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(centsE).as("cents"), count(centsE).as("n_vals"))
    dayAvg.write.mode("overwrite").parquet(dayAvgDir)
    val build = () => orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(avg(centsE).as("a")).orderBy("month")
    val expected = build().collect()
    SummaryRewriteRule.serving(spark,
        ("daily_avg_orders", dayAvg, spark.read.parquet(dayAvgDir))) {
      val q = build()
      assert(SummaryRewriteRule.scansPath(q.queryExecution.optimizedPlan, dayAvgDir),
        "rollup derived avg did not fire:\n" + q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("grouping lists compare as MULTISETS (duplicate group key regression)") {
    // The query's inlined grouping list holds TWO canonically-equal
    // month expressions (an alias and its defining expression — they
    // only unify after inlineProjects substitutes). Against a view
    // grouped by (month, o_orderpriority) — same COUNT of groups, a
    // different second key — length+containment wrongly matched in the
    // exact tier and returned the view's finer rows un-re-aggregated.
    // Bag equality refuses; the rollup tier then serves it CORRECTLY
    // (both duplicate keys rebase to the month column, the count
    // re-sums over priorities), so the assertion is result equality.
    val dupDir = Scratch.dir("mv_spec_dup") + "/dup"
    val mv = orders.groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"))
    mv.write.mode("overwrite").parquet(dupDir)
    val build = () => orders
      .withColumn("m2", date_trunc("month", col("o_orderdate")))
      .groupBy(col("m2"), date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n")).orderBy("m")
    val expected = build().collect()
    SummaryRewriteRule.serving(spark,
        ("month_prio_orders", mv, spark.read.parquet(dupDir))) {
      val q = build()
      assert(q.collect().toSeq == expected.toSeq,
        "duplicate-group query corrupted by view match:\n" +
          q.queryExecution.optimizedPlan)
    }
  }

  // ---- rollup tier ----

  private def dailyPartials = orders
    .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
    .agg(count(lit(1)).as("n"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))

  private lazy val dayMvDir = {
    val d = Scratch.dir("mv_spec_day") + "/daily"
    dailyPartials.write.mode("overwrite").parquet(d)
    d
  }

  private def dayView = ("daily_orders", dailyPartials, spark.read.parquet(dayMvDir))

  private def scansDayMv(df: DataFrame): Boolean =
    SummaryRewriteRule.scansPath(df.queryExecution.optimizedPlan, dayMvDir)

  test("rollup: a MONTH aggregate is served from the DAY view by re-aggregation") {
    val expected = IncrOps.monthlyPartials(orders).orderBy("month").collect()
    SummaryRewriteRule.serving(spark, dayView) {
      val q = IncrOps.monthlyPartials(orders).orderBy("month")
      assert(scansDayMv(q), "month-from-day rollup did not fire:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("rollup: a YEAR aggregate with derived scalars also rolls up from days") {
    val build = () => orders
      .groupBy(date_trunc("year", col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .select(col("y"), col("n"), expr("cents div n").as("avg_cents"))
      .orderBy("y")
    val expected = build().collect()
    SummaryRewriteRule.serving(spark, dayView) {
      val q = build()
      assert(scansDayMv(q), "year-from-day rollup did not fire:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("rollup: week-from-day fires, but month-from-WEEK view must refuse") {
    SummaryRewriteRule.serving(spark, dayView) {
      val wk = orders.groupBy(date_trunc("week", col("o_orderdate")).as("w"))
        .agg(count(lit(1)).as("n"))
      assert(scansDayMv(wk), "week-from-day rollup did not fire")
    }
    // a week-grained view cannot serve month queries (misaligned buckets)
    val weekDir = Scratch.dir("mv_spec_week") + "/weekly"
    val weekly = orders.groupBy(date_trunc("week", col("o_orderdate")).as("w"))
      .agg(count(lit(1)).as("n"))
    weekly.write.mode("overwrite").parquet(weekDir)
    SummaryRewriteRule.serving(spark,
        ("weekly_orders", weekly, spark.read.parquet(weekDir))) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
      assert(!SummaryRewriteRule.scansPath(q.queryExecution.optimizedPlan, weekDir),
        "month wrongly served from week buckets:\n" + q.queryExecution.optimizedPlan)
    }
  }

  test("rollup: avg() and DISTINCT aggregates refuse") {
    SummaryRewriteRule.serving(spark, dayView) {
      val qAvg = orders.groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(avg(col("o_totalprice")).as("a"))
      assert(!scansDayMv(qAvg), "avg wrongly rolled up")
      val qDistinct = orders.groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(countDistinct(col("o_custkey")).as("d"))
      assert(!scansDayMv(qDistinct), "count distinct wrongly rolled up")
    }
  }

  test("rollup: floating-point sums refuse (re-summation is order-sensitive)") {
    val dblDir = Scratch.dir("mv_spec_dbl") + "/dbl"
    val dbl = orders.groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice")).as("s"))
    dbl.write.mode("overwrite").parquet(dblDir)
    SummaryRewriteRule.serving(spark,
        ("daily_dbl", dbl, spark.read.parquet(dblDir))) {
      val q = orders.groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(sum(col("o_totalprice")).as("s"))
      assert(!SummaryRewriteRule.scansPath(q.queryExecution.optimizedPlan, dblDir),
        "double sum wrongly rolled up")
    }
  }

  test("with both grains registered, a month query prefers the exact monthly view") {
    SummaryRewriteRule.serving(spark, dayView, monthlyView) {
      val q = IncrOps.monthlyPartials(orders)
      assert(scansMv(q), "exact monthly view not chosen:\n" +
        q.queryExecution.optimizedPlan)
      assert(!scansDayMv(q), "rollup over daily chosen despite exact match")
      // and a week query still falls through to the daily rollup
      val wk = orders.groupBy(date_trunc("week", col("o_orderdate")).as("w"))
        .agg(count(lit(1)).as("n"))
      assert(scansDayMv(wk), "weekly rollup lost when both views registered")
    }
  }

  test("rollup: rolled result joins downstream like any aggregate") {
    SummaryRewriteRule.serving(spark, dayView) {
      val m = IncrOps.monthlyPartials(orders)
      val joined = m.as("a").join(m.as("b"), "month")
        .select(col("month"), col("a.cents"))
      assert(scansDayMv(joined))
      assert(joined.count() == IncrOps.monthlyPartials(orders).count())
    }
  }

  test("rewritten output composes with downstream operators (exprIds preserved)") {
    SummaryRewriteRule.serving(spark, monthlyView) {
      val m = IncrOps.monthlyPartials(orders)
      // join the rewritten aggregate with itself through a projection —
      // any broken exprId would fail analysis or return garbage
      val joined = m.as("a").join(m.as("b"), "month")
        .where(col("a.n_orders") === col("b.n_orders"))
        .select(col("month"), col("a.cents"))
      assert(scansMv(joined))
      assert(joined.count() == IncrOps.monthlyPartials(orders).count())
    }
  }

  test("scansPath matches the whole directory, not a name prefix") {
    val d = Scratch.dir("mv_prefix")
    spark.range(1).write.parquet(s"$d/monthly_orders_f")
    val plan = spark.read.parquet(s"$d/monthly_orders_f").queryExecution.optimizedPlan
    assert(SummaryRewriteRule.scansPath(plan, s"$d/monthly_orders_f"))
    assert(!SummaryRewriteRule.scansPath(plan, s"$d/monthly_orders"),
      "a view at monthly_orders_f must not count as monthly_orders")
  }
}
