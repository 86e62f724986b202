package graft.operators

import graft.{GQuery, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HYBRID retrieval — the fused lexical+dense ranking a RAG/curation
  * pipeline runs over a corpus that has both a text index and an
  * embedding index. Neither modality alone matches its behavior: BM25
  * misses paraphrases, dense cosine misses rare exact terms; reciprocal
  * rank fusion (RRF, Cormack et al. 2009) combines them using ranks
  * only, so the two legs' incomparable score scales never need
  * calibration.
  *
  * Scale stance: each leg is the already-audited shape (BM25: one corpus
  * scan + broadcast df/avgdl + TakeOrdered top-k; dense: broadcast probe
  * + one corpus pass + window top-k). The fusion itself touches only the
  * two k-row leg outputs — a full-outer join of 50-row frames — so the
  * hybrid adds NOTHING to corpus-scale cost: at 100 TB it is exactly two
  * single-pass retrievals plus driver-trivial rank arithmetic, and the
  * legs run in parallel (independent subtrees of one plan).
  *
  * Determinism contract: both legs rank on floor-scaled or
  * tie-broken-by-id orderings that already hash-match their DuckDB twins
  * elsewhere in the registry (text_bm25, sim_topk_bruteforce); the RRF
  * sum 1/(K+r_lex) + 1/(K+r_dense) is two IEEE divisions and one add in
  * a fixed order, floor-scaled to e6 — bit-identical cross-engine.
  */
object RetrievalOps {

  /** RRF constant K = 60 (the value from the original TREC submission,
    * standard across IR systems).
    */
  val RrfK = 60

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("em"))

  /** Lexical leg: BM25 (k1 = 1.2, b = 0.75) over `terms`, top `k` docs
    * as `(doc_id, lex_rank)`. Floor-scaled score so ln() last-ulp noise
    * cannot reorder ties; ties break by doc_id.
    */
  def bm25TopK(d: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val tok = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("double").as("dl"))
    val stats = tok.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = tok
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    // document frequency as a window over tf — one plan, no persist (a
    // session-lifetime cache leak across registry sweeps), no second
    // tokenize pass; the per-term exchange moves |matched docs × query
    // terms| rows, bounded by the query's term list
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("term")).cast("double"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf") * 2.2 /
          (col("tf") + (lit(0.25) + col("dl") / col("avgdl") * 0.75) * 1.2))
      .groupBy("doc_id")
      .agg(floor(sum(col("contrib")) * 10000).cast("long").as("score_e4"))
      .orderBy(desc("score_e4"), asc("doc_id")).limit(k)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(desc("score_e4"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
  }

  /** Dense leg: exact cosine against the probe vector (the corpus row
    * with the lowest vec_id — no assumption that any particular id
    * exists), top `k` as `(doc_id, dense_rank)`. Raw-double ordering
    * with vec_id tiebreak — the ordering hash-verified by
    * sim_topk_bruteforce.
    */
  def denseTopK(e: DataFrame, k: Int): DataFrame = {
    val probe = broadcast(e.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("qid"), col("em").as("qe")))
    e.join(probe, col("vec_id") =!= col("qid"))
      .select(col("vec_id").as("doc_id"),
        CosineSimilarity.cosine_sim("qe", "em").as("s"))
      .orderBy(desc("s"), asc("doc_id")).limit(k)
      .withColumn("dense_rank", row_number().over(
        Window.orderBy(desc("s"), asc("doc_id"))).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
  }

  /** Reciprocal rank fusion of any number of `(doc_id, <name>_rank)`
    * legs: full-outer join on doc_id, each present leg contributing
    * 1/(K + rank). Emits the fused top `k` with per-leg ranks (null
    * where a leg missed the doc) and the e6-floor-scaled RRF score.
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int): DataFrame = {
    val joined = legs.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
    val rankCols = joined.columns.filter(_.endsWith("_rank"))
    val rrf = rankCols.map(c =>
        coalesce(lit(1.0) / (lit(RrfK.toDouble) + col(c)), lit(0.0)))
      .reduce(_ + _)
    joined
      .withColumn("rrf_e6", floor(rrf * 1e6).cast("long"))
      .orderBy(desc("rrf_e6"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("rrf_e6"), asc("doc_id"))).cast("long"))
      .select(col("rank") +: col("doc_id") +: rankCols.map(col) :+ col("rrf_e6"): _*)
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein, SIGIR 1998):
    * greedily re-rank a candidate set so each pick maximizes
    * λ·relevance − (1−λ)·max-similarity-to-already-picked — the
    * standard diversification step between retrieval and a context
    * window (near-duplicate passages waste prompt tokens; MMR picks
    * one per redundancy group).
    *
    * `cands` is `(doc_id, rel, em)` — a SMALL frame (a top-k slate,
    * tens of rows). The k greedy rounds are chained tiny DataFrame
    * jobs (each `localCheckpoint`ed — the CC-fixpoint convention for
    * iterative plans); nothing is collected to the driver, and
    * corpus-scale work happened upstream in the candidate generator.
    * The first pick uses the same formula with an empty penalty
    * (max-sim = 0), so pick 1 is pure argmax relevance.
    */
  def mmrDiversify(cands: DataFrame, k: Int, lambda: Double,
      penalty: Double): DataFrame = {
    // `penalty` is passed explicitly rather than derived as 1-lambda:
    // 1.0 - 0.7 is 0.30000000000000004 in IEEE arithmetic, and the
    // floor-scaled score must be bit-identical to an oracle that
    // writes the literal 0.3
    val base = cands.select(col("doc_id"), col("rel"), col("em")).localCheckpoint()
    def mmrScore(rel: org.apache.spark.sql.Column, maxSim: org.apache.spark.sql.Column) =
      floor((lit(lambda) * rel - lit(penalty) * maxSim) * 1e6).cast("long")
    var sel = base
      .select(lit(1L).as("pick"), col("doc_id"), col("em"),
        mmrScore(col("rel"), lit(0.0)).as("mmr_e6"))
      .orderBy(desc("mmr_e6"), asc("doc_id")).limit(1)
      .localCheckpoint()
    var rem = base.join(sel.select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    for (i <- 2 to k) {
      // explicit broadcast: localCheckpoint frames report default
      // (huge) size stats, and without the hint the planner could pick
      // a shuffle cartesian for this tiny slate × picked-set product
      val penalty = rem.as("r")
        .join(broadcast(sel.select(col("em").as("sem"))))
        .groupBy(col("r.doc_id").as("doc_id"))
        .agg(max(CosineSimilarity.cosine_sim("r.em", "sem")).as("max_sim"))
      val next = rem.join(penalty, "doc_id")
        .select(lit(i.toLong).as("pick"), col("doc_id"), col("em"),
          mmrScore(col("rel"), col("max_sim")).as("mmr_e6"))
        .orderBy(desc("mmr_e6"), asc("doc_id")).limit(1)
      sel = sel.unionByName(next).localCheckpoint()
      rem = rem.join(sel.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint()
    }
    sel.select(col("pick"), col("doc_id"), col("mmr_e6"))
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "retrieval_hybrid_rrf",
      (s, dir) => {
        // HYBRID RETRIEVAL: BM25 top-50 for the fixed term set fused
        // with dense-cosine top-50 against the lowest-id probe vector,
        // RRF K=60, fused top-20. The oracle replays both legs and the
        // fusion arithmetic; per-leg ranks are emitted (nullable), so a
        // doc surfacing through the wrong leg — or a fusion that loses
        // a single-leg doc — fails the hash compare.
        rrfFuse(Seq(
            bm25TopK(docs(s, dir), Seq("spark", "query", "vector"), 50),
            denseTopK(emb(s, dir), 50)), k = 20)
          .orderBy("rank")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |                    list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |             FROM documents),
             |     t AS (SELECT doc_id, len(tk)::DOUBLE AS dl, tk FROM tok),
             |     stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM t),
             |     tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
             |            FROM (SELECT doc_id, dl, unnest(tk) AS term FROM t)
             |            WHERE term IN ('spark', 'query', 'vector')
             |            GROUP BY doc_id, dl, term),
             |     df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
             |     lex_s AS (
             |       SELECT doc_id,
             |              floor(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             |                        * tf * 2.2
             |                        / (tf + (0.25 + dl / avgdl * 0.75) * 1.2)) * 10000)::BIGINT
             |                AS score_e4
             |       FROM tf JOIN df USING (term), stats
             |       GROUP BY doc_id),
             |     lex AS (SELECT doc_id,
             |                    row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS lex_rank
             |             FROM lex_s QUALIFY lex_rank <= 50),
             |     probe AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
             |               FROM embeddings ORDER BY vec_id LIMIT 1),
             |     dense_s AS (SELECT c.vec_id AS doc_id,
             |                        list_cosine_similarity(qe, c.embedding::DOUBLE[]) AS s
             |                 FROM probe, embeddings c WHERE c.vec_id <> probe.qid),
             |     dense AS (SELECT doc_id,
             |                      row_number() OVER (ORDER BY s DESC, doc_id) AS dense_rank
             |               FROM dense_s QUALIFY dense_rank <= 50),
             |     fused AS (
             |       SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
             |              lex.lex_rank, dense.dense_rank,
             |              floor((coalesce(1.0 / (60 + lex.lex_rank), 0.0)
             |                     + coalesce(1.0 / (60 + dense.dense_rank), 0.0)) * 1e6)::BIGINT
             |                AS rrf_e6
             |       FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
             |SELECT row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rank,
             |       doc_id, lex_rank, dense_rank, rrf_e6
             |FROM fused QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),

    GQuery(
      "retrieval_mmr_diversify",
      (s, dir) => {
        // MMR DIVERSIFICATION: the cosine top-20 slate for the
        // lowest-id probe is greedily re-ranked to 8 picks with
        // λ=0.7 relevance / 0.3 redundancy-penalty — so the context
        // window gets one passage per redundancy group instead of
        // twenty paraphrases of the best hit. The oracle replays the
        // greedy recursion (recursive CTE carrying the picked-id list);
        // every pick's floor-scaled score is compared, so a single
        // wrong argmax anywhere in the chain fails the hash.
        val e = emb(s, dir)
        val probe = broadcast(e.orderBy("vec_id").limit(1)
          .select(col("vec_id").as("qid"), col("em").as("qe")))
        val cands = e.join(probe, col("vec_id") =!= col("qid"))
          .select(col("vec_id").as("doc_id"),
            CosineSimilarity.cosine_sim("qe", "em").as("rel"), col("em"))
          .orderBy(desc("rel"), asc("doc_id")).limit(20)
        mmrDiversify(cands, k = 8, lambda = 0.7, penalty = 0.3)
          .orderBy("pick")
      },
      Some("""WITH RECURSIVE
             |  e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             |  probe AS (SELECT vec_id AS qid, em AS qe FROM e ORDER BY vec_id LIMIT 1),
             |  cand AS (SELECT vec_id AS doc_id, em, list_cosine_similarity(qe, em) AS rel
             |           FROM e, probe WHERE vec_id <> qid
             |           ORDER BY rel DESC, doc_id LIMIT 20),
             |  sel(pick, ids, doc_id, mmr_e6) AS (
             |    (SELECT 1::BIGINT, [doc_id], doc_id,
             |            floor((0.7 * rel - 0.3 * 0.0) * 1e6)::BIGINT AS m
             |     FROM cand ORDER BY m DESC, doc_id LIMIT 1)
             |    UNION ALL
             |    SELECT sel.pick + 1, list_append(sel.ids, n.doc_id), n.doc_id, n.m
             |    FROM sel, LATERAL (
             |      SELECT c.doc_id,
             |             floor((0.7 * c.rel - 0.3 * (
             |               SELECT max(list_cosine_similarity(c.em, s2.em))
             |               FROM cand s2 WHERE list_contains(sel.ids, s2.doc_id))) * 1e6)::BIGINT AS m
             |      FROM cand c
             |      WHERE NOT list_contains(sel.ids, c.doc_id)
             |      ORDER BY m DESC, c.doc_id LIMIT 1) n
             |    WHERE sel.pick < 8)
             |SELECT pick, doc_id, mmr_e6 FROM sel ORDER BY pick""".stripMargin)))
}
