package graft

import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.functions._

/** Connected components + PageRank + prefix-filtered Jaccard + partition
  * pruning.
  */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chains, cliques, and isolated pairs get min-id labels") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> cluster 1
      (10L, 11L), (10L, 12L), (11L, 12L), // clique -> cluster 10
      (20L, 21L)                      // pair -> cluster 20
    ).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("large-star/small-star CC equals min-label CC on chain, clique, random, and fixture graphs") {
    val crafted = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    // 200-node chain: diameter 199 — the shape min-label is slow on
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // seeded random graph
    val rnd = new scala.util.Random(7)
    val random = (1 to 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    val fixture = DedupOps.jaccardPairs(
      Tables.t(spark, sf, "documents"), 3, 0.5).select("doc_a", "doc_b")
    for (g <- Seq(crafted, chain, random, fixture)) {
      val lss = DedupOps.connectedComponentsStar(g)
      val minLabel = DedupOps.connectedComponents(g, maxIter = 250)
      assert(lss.except(minLabel).isEmpty && minLabel.except(lss).isEmpty,
        "star CC must produce identical (node, cluster) labels")
    }
  }

  test("pagerank: regular graphs stay at rank 1.0; star centers outrank leaves") {
    // 10-cycle (2-regular, bidirected): rank 1.0 is the exact fixpoint —
    // each node receives 2 · (1.0/2) · 0.85 + 0.15 = 1.0 every iteration.
    val cycle = (0L until 10L).flatMap(i =>
        Seq((i, (i + 1) % 10), ((i + 1) % 10, i)))
      .toDF("src", "dst")
    val cycleRanks = GraphOps.pagerank(cycle, iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(cycleRanks.size == 10 &&
      cycleRanks.values.forall(r => math.abs(r - 1.0) < 1e-12))

    // 6-leaf star (bidirected): center must outrank leaves; leaves are
    // symmetric so their ranks must be identical.
    val star = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val starRanks = GraphOps.pagerank(star, iters = 3)
      .as[(Long, Double)].collect().toMap
    val leaves = (1L to 6L).map(starRanks)
    assert(starRanks(0L) > leaves.max)
    assert(leaves.distinct.size == 1)
  }

  test("prefix-filtered Jaccard finds exactly the same pairs as the plain join at J>=0.5") {
    val docs = Tables.t(spark, sf, "documents")
    val plain = DedupOps.jaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val prefixed = DedupOps.prefixFilteredJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(plain.nonEmpty)
    assert(prefixed == plain)
  }

  test("partitioned parquet write prunes partitions on read (PartitionFilters)") {
    val dir = Scratch.dir("part_events")
    Tables.t(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val filtered = spark.read.parquet(dir).where(col("event_type") === "click")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in:\n$scan")
    val expected = Tables.t(spark, sf, "events")
      .where(col("event_type") === "click").count()
    assert(filtered.count() == expected)
  }
}
