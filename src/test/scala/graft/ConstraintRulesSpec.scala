package graft

import graft.plans.ConstraintRules
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Constraint-driven simplification: FK join elimination and DISTINCT
  * elimination fire exactly when declared and provable, never
  * otherwise, and the fixture really satisfies the declared
  * constraints (the RELY proof obligation).
  */
class ConstraintRulesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = Tables.t(spark, sf, "orders")
  private lazy val customer = Tables.t(spark, sf, "customer")

  private def withConstraints[T](body: => T): T = {
    ConstraintRules.clear()
    ConstraintRules.declareForeignKey("orders_customer",
      orders, "o_custkey", customer, "c_custkey")
    try GraftSession.scoped(spark, rules = Seq(ConstraintRules))(body)
    finally ConstraintRules.clear()
  }

  private def scanCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectLeaves().length

  test("the fixture satisfies the declared constraint (RELY proof obligation)") {
    assert(orders.where(col("o_custkey").isNull).count() == 0)
    assert(orders.join(customer, col("o_custkey") === col("c_custkey"), "left_anti")
      .count() == 0, "dangling foreign keys")
    assert(customer.groupBy("c_custkey").count().where(col("count") > 1).count() == 0,
      "duplicate primary keys")
  }

  test("an FK inner join with only child columns used drops the parent scan") {
    val build = () => orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .orderBy("o_orderpriority")
    val expected = build().collect()
    withConstraints {
      val q = build()
      assert(scanCount(q) == 1, "parent scan not eliminated:\n" +
        q.queryExecution.optimizedPlan)
      assert(q.collect().toSeq == expected.toSeq)
    }
  }

  test("a projection over the join also eliminates; swapped sides too") {
    withConstraints {
      val p = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey").limit(10)
      assert(scanCount(p) == 1, "projection case:\n" + p.queryExecution.optimizedPlan)
      val swapped = customer.join(orders, col("c_custkey") === col("o_custkey"))
        .select("o_orderkey").orderBy("o_orderkey").limit(10)
      assert(scanCount(swapped) == 1, "swapped case:\n" +
        swapped.queryExecution.optimizedPlan)
    }
  }

  test("the join survives when parent columns are used, or without a declaration") {
    withConstraints {
      val uses = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
      assert(scanCount(uses) == 2, "eliminated despite parent column use")
    }
    // no declaration at all
    val q = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey")
    assert(scanCount(q) == 2)
  }

  test("DISTINCT over a declared unique key is dropped; over a non-key it is not") {
    withConstraints {
      val d = customer.select("c_custkey", "c_name").distinct()
      val hasAgg = d.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(hasAgg.isEmpty, "distinct over unique key not dropped:\n" +
        d.queryExecution.optimizedPlan)
      assert(d.count() == customer.count())
      val nk = customer.select("c_mktsegment").distinct()
      val stillAgg = nk.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(stillAgg.nonEmpty, "distinct over non-key wrongly dropped")
    }
  }
}
