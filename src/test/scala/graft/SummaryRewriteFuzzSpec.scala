package graft

import graft.plans.SummaryRewriteRule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential FUZZ over the view-rewrite tiers: for a randomized mix
  * of view grain × query grain × aggregate set × predicate shape, the
  * invariant is that the query's result with the rule INSTALLED equals
  * its result with the rule absent — whether the rule fires, serves via
  * rollup, derives an avg, rebases a filter, or refuses. The rule's
  * unit tests pin the known shapes; this spec guards the space BETWEEN
  * them, which is where optimizer rules go silently wrong (the r9
  * multiset-grouping hole was exactly such a between-shapes case).
  *
  * Deterministic seed → reproducible failures; the spec also counts how
  * many cases actually rewrote and asserts a floor, so a regression
  * that turns the rule into a permanent no-op cannot pass vacuously.
  */
class SummaryRewriteFuzzSpec extends SparkSpec {

  private lazy val orders = Tables.t(spark, sf, "orders")
  private def cents = round(col("o_totalprice") * 100).cast("long")

  /** The registered view per grain: count, sum, count(x), min, max of
    * the cents expression — wide enough that every query agg has a
    * stored twin (or a derivable pair).
    */
  private def viewDf(grain: String): DataFrame =
    orders.groupBy(date_trunc(grain, col("o_orderdate")).as("g"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s"),
        count(cents).as("nv"), min(cents).as("mn"), max(cents).as("mx"))

  private lazy val mvDirs: Map[String, String] =
    Seq("day", "month").map { grain =>
      val d = Scratch.dir(s"mv_fuzz_$grain") + "/v"
      viewDf(grain).write.mode("overwrite").parquet(d)
      grain -> d
    }.toMap

  private val queryGrains = Seq("day", "week", "month", "quarter", "year")

  private def buildQuery(qGrain: String, aggPick: Int, predPick: Int): DataFrame = {
    val aggs: Seq[Column] = aggPick match {
      case 0 => Seq(count(lit(1)).as("a"))
      case 1 => Seq(sum(cents).as("a"))
      case 2 => Seq(min(cents).as("a"), max(cents).as("b"))
      case 3 => Seq(avg(cents).as("a"))
      case 4 => Seq(count(lit(1)).as("a"), sum(cents).as("b"), avg(cents).as("c"))
      case _ => Seq(count(cents).as("a"))
    }
    val base = predPick match {
      case 0 => orders
      case 1 => orders.where(
        date_trunc(qGrain, col("o_orderdate")) >= lit("1997-01-01").cast("timestamp"))
      case 2 => orders.where( // finer-than-group predicate
        date_trunc("day", col("o_orderdate")) >= lit("1996-06-15").cast("timestamp"))
      case 3 => orders.where(col("o_orderpriority") =!= "1-URGENT") // must refuse
      case _ => orders.where( // row-level: must refuse
        col("o_totalprice") > 50000.0)
    }
    base.groupBy(date_trunc(qGrain, col("o_orderdate")).as("g"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("g")
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("randomized view/query/predicate shapes: rule-on ≡ rule-off, never vacuously") {
    val rnd = new scala.util.Random(20260814L)
    var fired = 0
    (1 to 40).foreach { i =>
      val viewGrain = if (rnd.nextBoolean()) "day" else "month"
      val qGrain = queryGrains(rnd.nextInt(queryGrains.length))
      val aggPick = rnd.nextInt(6)
      val predPick = rnd.nextInt(5)
      val expected = canon(buildQuery(qGrain, aggPick, predPick))
      SummaryRewriteRule.serving(spark,
          (s"fuzz_$viewGrain", viewDf(viewGrain), spark.read.parquet(mvDirs(viewGrain)))) {
        val q = buildQuery(qGrain, aggPick, predPick)
        val usedMv = SummaryRewriteRule.scansPath(
          q.queryExecution.optimizedPlan, mvDirs(viewGrain))
        if (usedMv) fired += 1
        assert(canon(q) == expected,
          s"case $i diverged: view=$viewGrain query=$qGrain agg=$aggPick " +
            s"pred=$predPick fired=$usedMv\n" + q.queryExecution.optimizedPlan)
      }
    }
    // the mix must actually exercise the rule — day/month views serve
    // aligned grains for 3 of the 5 predicate shapes, so a healthy rule
    // fires in a large fraction of the 40 draws
    info(s"rewrite fired in $fired/40 randomized cases")
    assert(fired >= 10, s"rule fired only $fired/40 times — fuzz is vacuous")
  }
}
