package graft

import org.apache.spark.sql.functions._

/** The PlanLint name lists as ENFORCED fixtures, not prose contracts.
  *
  * PlanLint reports three classes of deliberate-but-dangerous plan
  * shapes — BroadcastNestedLoopJoin, single-partition exchanges, and
  * array-typed columns crossing a shuffle. Every current instance is
  * justified at its query's definition, and until this spec the
  * committed lists lived only in SCALE.md: a regression that re-grew a
  * wide exchange (the exact defect the r11 `binaryHammingTopK` finding
  * was) would print a new name in a log nobody diffs. Here the lists
  * are committed files (one sorted name-per-line txt per list under
  * `src/test/resources/planlint`) and `sbt test` fails on ANY drift — a new name
  * means either fix the plan or justify it at the definition AND in the
  * fixture diff of the same commit.
  *
  * The sweep mirrors PlanLint's main exactly (same sf0.001 input, same
  * non-streaming scope) but skips the janino codegen compile — that
  * stays in the lint main, where its minutes belong. The shared test
  * session keeps its defaults except AQE, which is pinned OFF for the
  * sweep (and restored after) because the lint lists are defined on the
  * pre-adaptive plan shape; `anyWideShuffle` itself is AQE-robust
  * (descends into AdaptiveSparkPlanExec), which the last test proves.
  */
class PlanLintFixturesSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): List[String] = {
    val in = getClass.getResourceAsStream(s"/planlint/$name.txt")
    assert(in != null, s"missing fixture resource planlint/$name.txt")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
  }

  private def assertMatches(kind: String, got: List[String]): Unit = {
    val want = fixture(kind)
    val added = got.toSet -- want.toSet
    val gone = want.toSet -- got.toSet
    assert(added.isEmpty && gone.isEmpty,
      s"$kind drift — new (justify at the query AND update the fixture): " +
        s"${added.toList.sorted.mkString(", ")}; " +
        s"no longer present (update the fixture): " +
        s"${gone.toList.sorted.mkString(", ")}")
  }

  test("bnlj / single-partition / wide-shuffle lists match committed fixtures") {
    GraftSession.scoped(spark, Map(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "4")) {
      val r = PlanLint.audit(spark, sf, compileCodegen = false)
      assert(r.errors.isEmpty, s"plan-build errors: ${r.errors}")
      assert(r.cartesian.isEmpty, s"cartesian products: ${r.cartesian}")
      assert(r.checked > 350, s"suspiciously small sweep: ${r.checked}")
      assertMatches("bnlj", r.bnlj)
      assertMatches("single_partition", r.singlePart)
      assertMatches("wide_shuffles", r.wideShuffle)
      assertMatches("broadcast_fact", r.broadcastFact)
      assertMatches("broadcast_exploded", r.broadcastExploded)
    }
  }

  test("a deliberate broadcast of an un-aggregated fact table turns the detector red") {
    // the r13 emb_hard_negatives defect class, mechanized: an explicit
    // broadcast() hint over the raw embeddings corpus must flag; the
    // same hint over an AGGREGATE of it (bounded payload), a LIMIT of
    // it, or a dim table must not. The detector reads the analyzed
    // LOGICAL plan, so it fires regardless of whether the tiny test SF
    // would have auto-broadcast anyway (the advisor's masking finding).
    val emb = Tables.t(spark, sf, "embeddings").select(col("vec_id"))
    val ids = Seq(1L, 2L).toDF("vec_id")
    def hinted(df: org.apache.spark.sql.DataFrame) =
      ids.join(broadcast(df), "vec_id").queryExecution.analyzed
    assert(PlanLint.broadcastsFactTable(hinted(emb)),
      "hinted broadcast of the raw embeddings corpus must flag")
    assert(!PlanLint.broadcastsFactTable(
      hinted(emb.groupBy("vec_id").count().select("vec_id"))),
      "an aggregated subtree bounds the broadcast payload")
    assert(!PlanLint.broadcastsFactTable(hinted(emb.limit(10))),
      "a limited subtree bounds the broadcast payload")
    val dim = Tables.t(spark, sf, "nation").select(col("n_nationkey").as("vec_id"))
    assert(!PlanLint.broadcastsFactTable(hinted(dim)),
      "dims stay broadcast-size by design")
    // path-sensitivity (r14 advisor): broadcast(fact ⋈ dimAgg) still
    // broadcasts every un-aggregated fact row — the aggregate bounds
    // only the dim branch, so it must NOT exempt the hint
    val dimAgg = dim.groupBy("vec_id").count().select("vec_id")
    assert(PlanLint.broadcastsFactTable(hinted(emb.join(dimAgg, "vec_id"))),
      "an aggregate on a sibling branch must not exempt the fact branch")
    assert(!PlanLint.broadcastsFactTable(
      hinted(emb.groupBy("vec_id").count().select("vec_id").join(dimAgg, "vec_id"))),
      "aggregates bounding EVERY fact path exempt the hint")
    assert(!PlanLint.broadcastsFactTable(
      ids.join(emb, "vec_id").queryExecution.analyzed),
      "no hint, no finding — size-based broadcasts are AQE's call")
  }

  test("a broadcast of an exploded array-carrying fact subtree turns the detector red") {
    // the r15 class: Spark's size estimate ignores the Generate
    // multiplier and the array payload, so a 10 MB threshold
    // auto-broadcasts what materializes at 200+ MB. The detector reads
    // the PHYSICAL plan (it is a size-based decision, not a hint); the
    // hint here just forces the broadcast so the tiny test SF exhibits
    // the shape deterministically.
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("em"))
    val keyed = emb.select(col("vec_id"), col("em"),
      explode(array(lit("a"), lit("b"))).as("bk"))
    val ids = Seq(1L, 2L).toDF("vec_id")
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan
    assert(PlanLint.broadcastsExplodedFact(
      planOf(ids.join(broadcast(keyed), "vec_id"))),
      "broadcasting the exploded, array-carrying corpus must flag")
    // dropping the array column from the broadcast output bounds the
    // payload growth to the explode multiplier — not this class
    assert(!PlanLint.broadcastsExplodedFact(
      planOf(ids.join(broadcast(keyed.select("vec_id", "bk")), "vec_id"))),
      "an array-free broadcast output is not the estimate-blind class")
    // no explode → the estimate's file-size anchor is honest
    assert(!PlanLint.broadcastsExplodedFact(
      planOf(ids.join(broadcast(emb), "vec_id"))),
      "an un-exploded broadcast is broadcastsFactTable's class, not this one")
    // dims stay broadcast-size by design, exploded or not
    val dim = Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").as("vec_id"),
        array(col("n_name")).as("em"), explode(array(lit("x"))).as("bk"))
    assert(!PlanLint.broadcastsExplodedFact(
      planOf(ids.join(broadcast(dim), "vec_id"))),
      "exploded dim broadcasts are fine")
  }

  test("a deliberate wide shuffle turns the detector red, with AQE on and off") {
    // the enforcement path itself: an array column through a
    // repartition must be flagged by the SAME detector the sweep uses,
    // under BOTH session modes — the r12 lint used a bare
    // TreeNode.collect that cannot see inside AdaptiveSparkPlanExec and
    // was safe only because that session pinned AQE off.
    val base = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(3.0, 4.0))).toDF("id", "vec")
    val wide = base.repartition(4, col("id"))
    val narrow = base.select(col("id"), aggregate(col("vec"),
        lit(0.0), (a, x) => a + x).as("s"))
      .repartition(4, col("id"))
    for (aqe <- Seq("true", "false"))
      GraftSession.scoped(spark, Map("spark.sql.adaptive.enabled" -> aqe)) {
        assert(PlanLint.anyWideShuffle(wide.queryExecution.executedPlan),
          s"array-through-shuffle missed with aqe=$aqe")
        assert(!PlanLint.anyWideShuffle(narrow.queryExecution.executedPlan),
          s"false positive on scalar shuffle with aqe=$aqe")
      }
    // …and on an ALREADY-MATERIALIZED adaptive plan, where executed
    // shuffles are wrapped in ShuffleQueryStageExec LEAVES that
    // TreeNode.collect does not descend into — the r13 advisor finding:
    // the pre-r14 detector returned false here, so any post-execution
    // caller (shufflesAreArrayFree runs inside the query it audits) was
    // silently blind.
    GraftSession.scoped(spark, Map("spark.sql.adaptive.enabled" -> "true")) {
      val executedWide = base.repartition(4, col("id"))
      val executedNarrow = narrow.select(col("id"), col("s") + 1)
      executedWide.collect(); executedNarrow.collect()
      assert(PlanLint.anyWideShuffle(executedWide.queryExecution.executedPlan),
        "array-through-shuffle missed once the stage materialized")
      assert(!PlanLint.anyWideShuffle(executedNarrow.queryExecution.executedPlan),
        "false positive on a materialized scalar shuffle")
    }
  }
}
