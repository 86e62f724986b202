package graft

import graft.operators.{Ingest, Skew}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-mechanics suite: salted aggregation equivalence, runtime skew
  * splits and filters, extension-registered functions, broadcast plan
  * shape. (`LayoutSpec` pins the bucketed co-located join.)
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedLatestWins ≡ latestWins on a skewed key distribution") {
    val rnd = new scala.util.Random(11)
    // key 0 holds ~70% of rows — the skew shape salting exists for
    val rows = (1 to 5000).map { i =>
      val id = if (rnd.nextDouble() < 0.7) 0L else rnd.nextInt(50).toLong
      (id, s"m$i", i.toLong)
    }
    val df = rows.toDF("id", "msg", "version")
    val plain = Ingest.latestWins(df, Seq("id"), Seq("version"))
      .orderBy("id").collect().toSeq
    val salted = Skew.saltedLatestWins(df, Seq("id"), Seq("version"), saltBuckets = 16)
      .orderBy("id").collect().toSeq
    assert(salted == plain)
  }

  test("AQE splits a skewed join partition at runtime") {
    // The other half of the skew story: salting fixes skewed AGGREGATES
    // statically; AQE's skew-join handles skewed JOINS at runtime by
    // splitting oversized partitions after seeing map output sizes.
    // Thresholds are production-sized (256MB) — shrink to fixture scale.
    GraftSession.scoped(spark, Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
      // hot key 0 holds ~90% of the left side
      val left = spark.range(60000)
        .selectExpr("IF(id % 10 = 0, id, 0L) AS k", "id AS payload")
      val right = spark.range(2000).selectExpr("id AS k", "id * 2 AS r")
      val j = left.join(right, "k")
      // execute THIS plan so AQE finalizes it; 54001 hot-key rows + 199 singles
      assert(j.collect().length == 54200)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("skewed"),
        s"expected AQE skew-join split markers in final plan:\n$finalPlan")
    }
  }

  test("runtime bloom filter prunes the big side of a selective join") {
    // AQE/runtime-filter story: a selective filter on the small side
    // should inject a bloom-filter probe into the big side's scan, so
    // non-matching fact rows die before the shuffle. Thresholds are
    // production-sized; shrink them to this fixture's scale.
    GraftSession.scoped(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "50MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) { // force shuffle join path
      val li = Tables.t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      val sel = Tables.t(spark, sf, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter in the optimized plan:\n$optimized")
      // the filter is sound: result matches the unfiltered join
      val expected = Tables.t(spark, sf, "lineitem")
        .join(Tables.t(spark, sf, "orders")
          .where(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expected)
    }
  }

  test("broadcast(dim) produces BroadcastHashJoin, fact side unshuffled") {
    val p = Tables.t(spark, sf, "part")
    val li = Tables.t(spark, sf, "lineitem")
    val plan = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").count()
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("as-of join plans exactly ONE hash exchange (tiebreak subsumed the pre-dedup)") {
    // Round-2 regression gate: the union + carry-forward as-of must cost
    // one hashpartitioning exchange (the window shuffle) — a second one
    // means a pre-aggregate crept back in.
    val plan = SparkEntry.queries("asof_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges in:\n$plan")
    assert(!plan.contains("HashAggregate"), "no aggregate belongs in the as-of plan")
  }

  test("forward as-of join also plans exactly ONE hash exchange") {
    val plan = SparkEntry.queries("asof_join_forward")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges in:\n$plan")
    assert(!plan.contains("HashAggregate"), "no aggregate belongs in the as-of plan")
  }

  test("decontamination broadcasts the eval gram set (training scan never shuffles)") {
    val plan = SparkEntry.queries("decontaminate_ngrams")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams must broadcast:\n$plan")
  }

  test("BoundedLevenshteinRule rewrites filters to the banded DP, results unchanged") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    val p = Tables.t(spark, sf, "part").select("p_partkey", "p_name")
    def q() = p.as("a").join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
      .select(col("a.p_partkey").as("pa"), col("b.p_partkey").as("pb"),
        levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
      .where(col("dist") <= 3)
    val before = q().collect().toSet
    GraftSession.scoped(spark, rules = Seq(graft.plans.BoundedLevenshteinRule)) {
      val opt = q()
      val boundedInPlan = opt.queryExecution.optimizedPlan
        .collect { case node => node.expressions }.flatten
        .exists(_.exists {
          case Levenshtein(_, _, Some(_)) => true
          case _ => false
        })
      assert(boundedInPlan, "filter must carry the thresholded levenshtein form")
      assert(opt.collect().toSet == before, "rewrite must not change results")
    }
  }
}
