package graft

import org.apache.spark.sql.functions._
import graft.functions.JaroWinkler
import graft.operators.{FuzzyOps, SimilarityOps}
import org.apache.spark.unsafe.types.UTF8String

/** Gates for the round-4 FuzzyOps batch: known-value tables for the new
  * expressions, structural invariants the oracle hash can't express, and
  * plan-shape checks for the salted join.
  */
class FuzzyOpsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) =
    FuzzyOps.all.find(_.name == name).get.run(spark, sf)

  private def u(s: String) = UTF8String.fromString(s)

  test("JaroWinkler matches the reference values DuckDB produces") {
    // table differentially validated against duckdb jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("CRATE", "TRACE", 0.7333333333333334),     // jaro>0.7 but prefix 0
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),          // prefix 4 but jaro<=0.7: no boost
      ("aaaa", "aaaaaaaaaaaaaaaaa", 0.8470588235294118), // prefix capped at 4
      ("xyz", "zyx", 0.5555555555555555),         // zero match window
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0))
    for ((a, b, want) <- cases)
      assert(JaroWinkler.sim(u(a), u(b)) == want, s"jw($a,$b)")
  }

  test("JaroWinkler expression evaluates through codegen and SQL") {
    val out = Seq(("martha", "marhta"), ("abc", "abc"))
      .toDF("a", "b")
      .select(expr("jaro_winkler(a, b)").as("jw"))
      .as[Double].collect().sorted
    assert(out.toSeq == Seq(0.9611111111111111, 1.0))
    // null-safe: null in, null out
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(expr("jaro_winkler(a, b)")).collect()
    assert(n.head.isNullAt(0))
  }

  test("DotProduct expression is bit-identical to the HOF dot form") {
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("em"))
      .limit(50)
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        expr("dot_product(a.em, b.em)").as("fused"),
        SimilarityOps.dot(col("a.em"), col("b.em")).as("hof"))
    assert(both.where(col("fused") =!= col("hof")).count() == 0)
  }

  test("DotProduct nulls out on length mismatch and null elements (no silent truncation)") {
    val rows = Seq(
      (1L, Seq(1.0, 2.0), Seq(3.0, 4.0)),          // well-formed → 11.0
      (2L, Seq(1.0, 2.0, 5.0), Seq(3.0, 4.0)),     // length mismatch → null
      (3L, Seq(1.0, 2.0), Seq(3.0, 4.0, 9.0))      // length mismatch → null
    ).toDF("id", "a", "b")
    val out = rows.select(col("id"), expr("dot_product(a, b)").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty && out(3L).isEmpty)
    // a null ELEMENT also nulls the product (matches the zip_with HOF form)
    val withNullElem = Seq((4L, Seq(Option(1.0), None), Seq(Option(3.0), Option(4.0))))
      .toDF("id", "a", "b")
      .select(expr("dot_product(a, b)").as("d")).collect()
    assert(withNullElem.head.isNullAt(0))
  }

  test("BFS levels: seeds are level 0, each deeper node touches level-1") {
    val out = q("graph_bfs_levels").cache()
    val li = Tables.t(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val seeds = li.select(col("l_partkey").as("node"))
      .where(col("l_partkey") % 100 === 0).distinct()
    // level-0 set == seed set
    assert(out.where(col("lvl") === 0).select("node")
      .except(seeds).isEmpty)
    assert(seeds.except(out.where(col("lvl") === 0).select("node")).isEmpty)
    // every node appears once
    assert(out.groupBy("node").count().where(col("count") > 1).count() == 0)
    // every lvl-k node (k>0) has an edge from some lvl-(k-1) node
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
    val parent = out.select(col("node").as("src"), col("lvl").as("plvl"))
    val bad = out.where(col("lvl") > 0)
      .join(e, out("node") === e("dst"))
      .join(parent, "src")
      .groupBy("node", "lvl").agg(min("plvl").as("best"))
      .where(col("best") =!= col("lvl") - 1)
    assert(bad.count() == 0, "some node's level is not parent level + 1")
  }

  test("salted join equals the unsalted join and partitions by (key, salt)") {
    val salted = q("join_skew_salted")
    val o = Tables.t(spark, sf, "orders")
    val c = Tables.t(spark, sf, "customer")
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
      .orderBy("c_mktsegment")
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("salt"), "salt must appear in the physical plan")
  }

  test("deterministic shuffle-shard: contiguous positions, stable reruns") {
    val a = q("docs_shuffle_shard").collect()
    val b = q("docs_shuffle_shard").collect()
    assert(a.toSeq == b.toSeq, "permutation must be identical across runs")
    val perShard = q("docs_shuffle_shard").groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
    assert(perShard.where(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0,
      "pos must be dense 1..n within every shard")
    // every doc lands in exactly one shard
    assert(a.length == Tables.t(spark, sf, "documents").count())
  }

  test("containment score is bounded and asymmetric pairs both appear") {
    val out = q("text_containment").cache()
    assert(out.count() > 0)
    assert(out.where(col("cont") > 1.0 || col("cont") < 0.5).count() == 0)
    assert(out.where(col("doc_a") === col("doc_b")).count() == 0)
  }

  test("MIPS top-k: ranks dense, scores non-increasing per probe") {
    val out = q("sim_mips_topk").cache()
    val byQ = out.groupBy("qid").agg(count(lit(1)).as("n"),
      min("rn").as("lo"), max("rn").as("hi"))
    assert(byQ.where(col("lo") =!= 1 || col("hi") =!= col("n")).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rn")
    assert(out.withColumn("prev", lag("ip", 1).over(w))
      .where(col("prev").isNotNull && col("prev") < col("ip"))
      .count() == 0, "inner product must be non-increasing in rank")
  }
}
