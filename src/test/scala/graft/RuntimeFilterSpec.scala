package graft

import graft.operators.RuntimeFilterOps
import org.apache.spark.sql.functions._

/** Plan-mechanics gates for the runtime data-skipping wave
  * (operators/RuntimeFilterOps): each mechanism must (a) fire — the
  * plan-derived flag the oracle asserts is also asserted here, (b)
  * actually change the plan vs a disabled control, and (c) agree with
  * the control on results (skipping must never change answers).
  */
class RuntimeFilterSpec extends SparkSpec {

  private def q(name: String) =
    RuntimeFilterOps.all.find(_.name == name).get.run(spark, sf)

  test("join_dpp_prune injects a dynamicpruning partition filter") {
    val out = q("join_dpp_prune")
    assert(out.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruningexpression"))
    val rows = out.collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Boolean]("used_dpp")))
    assert(rows.map(_.getAs[Long]("year")).toSeq == Seq(1996L, 1998L))
  }

  test("join_dpp_prune control: disabled DPP leaves the scan unpruned but agrees") {
    GraftSession.scoped(spark,
        Map("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false")) {
      val out = q("join_dpp_prune")
      assert(!out.queryExecution.executedPlan.toString.toLowerCase
        .contains("dynamicpruningexpression"))
      // flag honestly reports false — and that is exactly what the
      // oracle differential would catch as a regression
      val rows = out.collect()
      assert(rows.forall(!_.getAs[Boolean]("used_dpp")))
      // the *data* columns are unaffected by pruning
      val on = q("join_dpp_prune").collect() // still disabled
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
        on.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    }
  }

  test("join_runtime_bloom plants might_contain on the probe side") {
    val out = q("join_runtime_bloom")
    assert(out.queryExecution.optimizedPlan.toString.contains("might_contain"))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("used_bloom")))
    // control: same join without the runtime filter agrees on the data
    val li = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val pt = Tables.t(spark, sf, "part").where(col("p_size") === 1)
      .select(col("p_partkey"), col("p_brand"))
    val control = li.join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
        round(avg("l_quantity"), 4).as("avg_qty"))
      .orderBy("p_brand").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      control.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
  }

  test("join_bucketed_noshuffle: zero exchanges under the join; control pays two") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val out = q("join_bucketed_noshuffle")
    val rows = out.collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getAs[Long]("exchanges_before_join") == 0L))
    // control: the same SMJ over the raw (unbucketed) parquet shuffles
    // both sides
    GraftSession.scoped(spark, Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")) {
      val ctl = Tables.t(spark, sf, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .join(Tables.t(spark, sf, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
        .orderBy("c_mktsegment")
      val smj = ctl.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j
      }
      assert(smj.nonEmpty)
      assert(smj.head.collect { case e: ShuffleExchangeExec => e }.size == 2)
      // and the bucketed result equals the control result
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        ctl.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    }
  }
}
