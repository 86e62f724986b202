package graft

import graft.functions.CosineSimilarity
import graft.operators.RetrievalOps
import org.apache.spark.sql.functions._

/** Retrieval surface: RRF fusion sanity and MMR diversification
  * invariants (greedy-pick structure, slate containment, and the
  * no-more-redundant-than-top-k diversity property).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.t(spark, sf, "embeddings")
    .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("em"))

  private lazy val slate = {
    val probe = broadcast(emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("em").as("qe")))
    emb.join(probe, col("vec_id") =!= col("qid"))
      .select(col("vec_id").as("doc_id"),
        CosineSimilarity.cosine_sim("qe", "em").as("rel"), col("em"))
      .orderBy(desc("rel"), asc("doc_id")).limit(20)
      .localCheckpoint()
  }

  private def avgPairwiseSim(ids: Seq[Long]): Double = {
    val rows = slate.where(col("doc_id").isInCollection(ids))
      .select(col("doc_id"), col("em")).as[(Long, Seq[Double])].collect()
    val sims = for {
      i <- rows.indices; j <- rows.indices if i < j
      a = rows(i)._2; b = rows(j)._2
    } yield {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    sims.sum / sims.length
  }

  test("MMR picks k distinct slate members, first pick is the relevance argmax") {
    val picks = RetrievalOps.mmrDiversify(slate, k = 8, lambda = 0.7, penalty = 0.3)
      .orderBy("pick").as[(Long, Long, Long)].collect()
    assert(picks.length == 8)
    assert(picks.map(_._1).toSeq == (1L to 8L))
    assert(picks.map(_._2).distinct.length == 8, "picks must be distinct")
    val slateIds = slate.select("doc_id").as[Long].collect().toSet
    assert(picks.forall(p => slateIds.contains(p._2)), "picks must come from the slate")
    val top1 = slate.orderBy(desc("rel"), asc("doc_id")).limit(1)
      .select("doc_id").as[Long].head()
    assert(picks.head._2 == top1, "pick 1 must be pure argmax relevance")
    // scores are non-increasing is NOT guaranteed by MMR in general, but
    // each pick's score must be <= the previous pick's would-be re-score
    // upper bound: just pin monotone pick indices and leave score
    // semantics to the oracle differential.
  }

  test("MMR selection is no more redundant than the plain top-k") {
    val mmrIds = RetrievalOps.mmrDiversify(slate, k = 8, lambda = 0.7, penalty = 0.3)
      .select("doc_id").as[Long].collect().toSeq
    val topIds = slate.orderBy(desc("rel"), asc("doc_id")).limit(8)
      .select("doc_id").as[Long].collect().toSeq
    assert(avgPairwiseSim(mmrIds) <= avgPairwiseSim(topIds) + 1e-9,
      s"MMR set more redundant than top-k: ${avgPairwiseSim(mmrIds)} vs ${avgPairwiseSim(topIds)}")
  }
}
