package graft.operators

import graft.{GQuery, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation metrics over the embeddings table — the measurement
  * half of a training pipeline: is the embedding space any good, and is
  * a classifier built on it calibrated? Every metric is driven by one
  * shared deterministic score (a nearest-centroid linear probe), so the
  * whole suite is oracle-checkable without any model weights.
  *
  * Scale stance: the probe's centroids are a (2 classes × 64 dims)-group
  * aggregate with full map-side combine — one shuffle of O(classes·dims)
  * rows regardless of corpus size — and every downstream metric is one
  * more aggregate over scored rows. The AUC/calibration windows order
  * DISTINCT score values (bounded by the 6-dp rounding grid, not the
  * corpus); at 100 TB the same math runs on t-digest-binned scores
  * (agg_tdigest_quantiles) instead of exact distincts. NDCG evaluates a
  * SAMPLED query set (the standard IR-eval harness shape): candidates
  * come from a broadcast of the sample against the corpus here, and from
  * the ANN path (sim_ann_lsh / sim_ann_ivf) on a cluster — the rank/DCG
  * tail is identical either way.
  */
object EvalOps {

  /** Embeddings with a binary task (y = label mod 2) and the probe
    * score: cos(x, centroid+) − cos(x, centroid−), rounded to 6 dp so
    * rank-based metrics see identical tie groups in both engines.
    */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), (col("label") % 2).cast("int").as("y"),
        transform(col("embedding"), _.cast("double")).as("em"))
    val cent = e.select(col("y"), posexplode(col("em")).as(Seq("idx", "v")))
      .groupBy("y", "idx").agg(avg("v").as("av"))
      .groupBy("y")
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("av")))),
        _.getField("av")).as("cent"))
    val cc = cent.agg(
      first(when(col("y") === 1, col("cent")), ignoreNulls = true).as("cpos"),
      first(when(col("y") === 0, col("cent")), ignoreNulls = true).as("cneg"))
    e.crossJoin(broadcast(cc))
      .select(col("vec_id"), col("y"),
        round(CosineSimilarity.cosine_sim("em", "cpos") -
          CosineSimilarity.cosine_sim("em", "cneg"), 6).as("score"))
  }

  /** DuckDB mirror of [[scored]] as a WITH-clause prefix ending in a
    * `scored(vec_id, y, score)` CTE.
    */
  private val scoredSql: String =
    """WITH e AS (SELECT vec_id, CAST(label % 2 AS INT) AS y,
      |                  embedding::DOUBLE[] AS em FROM embeddings),
      | ex AS (SELECT y, generate_subscripts(em, 1) AS idx, unnest(em) AS v
      |        FROM e),
      | cd AS (SELECT y, idx, avg(v) AS av FROM ex GROUP BY 1, 2),
      | cent AS (SELECT y, list(av ORDER BY idx) AS cent FROM cd GROUP BY 1),
      | cc AS (SELECT any_value(CASE WHEN y = 1 THEN cent END) AS cpos,
      |               any_value(CASE WHEN y = 0 THEN cent END) AS cneg
      |        FROM cent),
      | scored AS (SELECT vec_id, y,
      |                   round(list_cosine_similarity(em, cpos) -
      |                         list_cosine_similarity(em, cneg), 6) AS score
      |            FROM e, cc)""".stripMargin

  val all: Seq[GQuery] = Seq(

    GQuery(
      "eval_centroid_auc",
      (s, dir) => {
        // ROC-AUC of the centroid probe via the Mann-Whitney identity:
        // AUC = P(score+ > score−) + ½·P(tie). Computed from per-
        // distinct-score (pos, neg) counts and one cumulative window —
        // never a pairwise comparison: Σ_s np(s)·(negBelow(s) + ½nn(s))
        // / (P·N). The window orders distinct rounded scores (≤ the
        // 6-dp grid), not rows.
        val g = scored(s, dir).groupBy("score").agg(
          sum(col("y")).as("np"),
          sum(lit(1) - col("y")).as("nn"))
        val w = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("below", coalesce(sum("nn").over(w), lit(0L)))
          .agg(sum("np").cast("long").as("n_pos"),
            sum("nn").cast("long").as("n_neg"),
            sum(col("np") * (col("below") + col("nn") / lit(2.0))).as("u"))
          .select(col("n_pos"), col("n_neg"),
            round(col("u") / (col("n_pos") * col("n_neg")), 6).as("auc"))
      },
      Some(s"""$scoredSql,
              | g AS (SELECT score, sum(y) AS np, sum(1 - y) AS nn
              |       FROM scored GROUP BY 1),
              | cum AS (SELECT score, np, nn,
              |                coalesce(sum(nn) OVER (ORDER BY score
              |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |                  0) AS below
              |         FROM g)
              |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
              |       CAST(sum(nn) AS BIGINT) AS n_neg,
              |       round(sum(np * (below + nn / 2.0)) /
              |             (sum(np) * sum(nn)), 6) AS auc
              |FROM cum""".stripMargin)),

    GQuery(
      "emb_drift_centroids",
      (s, dir) => {
        // EMBEDDING-SPACE DRIFT MONITOR: per-label centroid plus
        // per-label dispersion (trace of the per-dimension variance),
        // then every label pair's centroid cosine — the vector-side
        // sibling of corpus_js_divergence for "did the embedding
        // distribution move between slices?". Shape: ONE posexplode
        // aggregate keyed by (label, dim) — O(labels·dims) rows out of
        // a corpus-sized pass — then all pairwise math runs on the
        // labels×dims model, never the vectors. 6 dp rounding over a
        // total order.
        val e = Tables.t(s, dir, "embeddings")
          .select(col("label"),
            transform(col("embedding"), _.cast("double")).as("em"))
        val stats = e.select(col("label"), posexplode(col("em")).as(Seq("idx", "v")))
          .groupBy("label", "idx")
          .agg(avg("v").as("av"), var_pop(col("v")).as("vv"))
        val model = stats.groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("idx"), col("av")))),
            _.getField("av")).as("cent"),
            sum("vv").as("disp"), count(lit(1)).as("dims"))
        model.as("a").join(model.as("b"), col("a.label") < col("b.label"))
          .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
            round(CosineSimilarity.cosine_sim("a.cent", "b.cent"), 6)
              .as("centroid_cos"),
            round(col("a.disp"), 6).as("disp_a"),
            round(col("b.disp"), 6).as("disp_b"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH e AS (SELECT label, embedding::DOUBLE[] AS em FROM embeddings),
             |  ex AS (SELECT label, generate_subscripts(em, 1) AS idx, unnest(em) AS v
             |         FROM e),
             |  st AS (SELECT label, idx, avg(v) AS av, var_pop(v) AS vv
             |         FROM ex GROUP BY 1, 2),
             |  m AS (SELECT label, list(av ORDER BY idx) AS cent,
             |               sum(vv) AS disp FROM st GROUP BY 1)
             |SELECT a.label AS label_a, b.label AS label_b,
             |       round(list_cosine_similarity(a.cent, b.cent), 6) AS centroid_cos,
             |       round(a.disp, 6) AS disp_a, round(b.disp, 6) AS disp_b
             |FROM m a JOIN m b ON a.label < b.label
             |ORDER BY label_a, label_b""".stripMargin)),

    GQuery(
      "eval_conformal_coverage",
      (s, dir) => {
        // SPLIT-CONFORMAL PREDICTION: calibrate a nonconformity
        // threshold on one fold, measure empirical coverage on a
        // disjoint fold — the distribution-free uncertainty wrapper
        // every production classifier should ship with. Nonconformity
        // = |y − σ(5·score)| (the probe's miscalibration per row,
        // 6 dp-rounded so both engines rank identical tie groups); the
        // threshold is the ⌈(n+1)(1−α)⌉-th smallest calibration value,
        // computed in INTEGER rank arithmetic (⌈(n+1)·k/10⌉ as
        // ((n+1)·k+9)÷10 — a float (n+1)·0.9 can land ±1 ulp around an
        // exact integer and flip the ceil across engines). Shape: one
        // scored pass, a rank pick on the calibration fold, one
        // coverage aggregate on the test fold.
        val sc = scored(s, dir)
          .withColumn("p", lit(1.0) / (lit(1.0) + exp(lit(-5.0) * col("score"))))
          .withColumn("nc", round(when(col("y") === 1, lit(1.0) - col("p"))
            .otherwise(col("p")), 6))
        val cal = sc.where(col("vec_id") % 4 === 1).localCheckpoint()
        val tst = sc.where(col("vec_id") % 4 === 3).localCheckpoint()
        val nCal = cal.count()
        val nTst = tst.count()
        val ranked = cal.withColumn("rn", row_number().over(
          Window.orderBy(asc("nc"), asc("vec_id"))))
        def level(k: Int): DataFrame = {
          val r = ((nCal + 1) * k + 9) / 10 // integer ceil((n+1)k/10)
          val q = if (r > nCal) 1.0
            else ranked.where(col("rn") === r).select("nc").head().getDouble(0)
          tst.agg(round(avg(when(col("nc") <= q, 1.0).otherwise(0.0)), 4)
              .as("coverage"))
            .select(round(lit(1.0 - k / 10.0), 1).as("alpha"),
              lit(nCal).as("n_cal"), lit(nTst).as("n_test"),
              lit(r).as("rank"), round(lit(q), 6).as("q"), col("coverage"))
        }
        level(9).unionByName(level(8)).orderBy("alpha")
      },
      Some(s"""$scoredSql,
              | nc AS (SELECT vec_id, round(CASE WHEN y = 1
              |          THEN 1.0 - 1.0 / (1.0 + exp(-5.0 * score))
              |          ELSE 1.0 / (1.0 + exp(-5.0 * score)) END, 6) AS nc
              |        FROM scored),
              | cal AS (SELECT nc, row_number() OVER (ORDER BY nc, vec_id) AS rn
              |         FROM nc WHERE vec_id % 4 = 1),
              | tst AS (SELECT nc FROM nc WHERE vec_id % 4 = 3),
              | ns AS (SELECT (SELECT count(*) FROM cal) AS n_cal,
              |               (SELECT count(*) FROM tst) AS n_test),
              | lv AS (SELECT 9 AS k UNION ALL SELECT 8),
              | pick AS (SELECT k, n_cal, n_test,
              |                 ((n_cal + 1) * k + 9) // 10 AS r FROM lv, ns),
              | qv AS (SELECT k, n_cal, n_test, r,
              |               CASE WHEN r > n_cal THEN 1.0
              |                    ELSE (SELECT nc FROM cal WHERE rn = r) END AS q
              |        FROM pick)
              |SELECT round(1.0 - k / 10.0, 1) AS alpha,
              |       CAST(n_cal AS BIGINT) AS n_cal,
              |       CAST(n_test AS BIGINT) AS n_test,
              |       CAST(r AS BIGINT) AS rank, round(q, 6) AS q,
              |       round((SELECT avg(CASE WHEN nc <= q THEN 1.0 ELSE 0.0 END)
              |              FROM tst), 4) AS coverage
              |FROM qv ORDER BY alpha""".stripMargin)),

    GQuery(
      "eval_calibration_bins",
      (s, dir) => {
        // RELIABILITY DIAGRAM + Brier score: the probe score through a
        // fixed logistic link (p = σ(5·score)), decile-binned; a bin's
        // mean predicted p vs its empirical positive rate is the
        // calibration gap. One aggregate over scored rows; the bin key
        // is a pure projection.
        scored(s, dir)
          .withColumn("p", lit(1.0) / (lit(1.0) + exp(lit(-5.0) * col("score"))))
          .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("long"))
          .groupBy("bin").agg(
            count(lit(1)).as("n"),
            round(avg("p"), 4).as("mean_p"),
            round(avg(col("y").cast("double")), 4).as("frac_pos"),
            round(avg(pow(col("p") - col("y"), 2)), 6).as("brier"))
          .orderBy("bin")
      },
      Some(s"""$scoredSql,
              | pr AS (SELECT y, 1.0 / (1.0 + exp(-5.0 * score)) AS p
              |        FROM scored),
              | b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin, y, p
              |       FROM pr)
              |SELECT bin, CAST(count(*) AS BIGINT) AS n,
              |       round(avg(p), 4) AS mean_p,
              |       round(avg(CAST(y AS DOUBLE)), 4) AS frac_pos,
              |       round(avg(pow(p - y, 2)), 6) AS brier
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "eval_pr_sweep",
      (s, dir) => {
        // PRECISION/RECALL/F1 swept over a fixed 9-point threshold grid
        // in ONE pass: scored rows cross a broadcast 9-row grid, then a
        // single per-threshold aggregate — the grid sweep costs one
        // shuffle of 9 groups, not 9 scans.
        val grid = (-4 to 4).map(t => t / 20.0)
        val thr = s.createDataFrame(grid.map(Tuple1(_))).toDF("thr")
        scored(s, dir).crossJoin(broadcast(thr))
          .groupBy("thr").agg(
            sum(when(col("score") >= col("thr"), col("y"))).cast("long").as("tp"),
            sum(when(col("score") >= col("thr"), lit(1) - col("y"))).cast("long").as("fp"),
            sum(when(col("score") < col("thr"), col("y"))).cast("long").as("fn"))
          .select(col("thr"), col("tp"), col("fp"), col("fn"),
            round(col("tp") / (col("tp") + col("fp")).cast("double"), 4).as("precision"),
            round(col("tp") / (col("tp") + col("fn")).cast("double"), 4).as("recall"),
            round(lit(2.0) * col("tp") /
              (lit(2.0) * col("tp") + col("fp") + col("fn")), 4).as("f1"))
          .orderBy("thr")
      },
      Some(s"""$scoredSql,
              | grid AS (SELECT i / 20.0 AS thr
              |          FROM generate_series(-4, 4) t(i)),
              | agg AS (SELECT thr,
              |                CAST(sum(CASE WHEN score >= thr THEN y ELSE 0 END) AS BIGINT) AS tp,
              |                CAST(sum(CASE WHEN score >= thr THEN 1 - y ELSE 0 END) AS BIGINT) AS fp,
              |                CAST(sum(CASE WHEN score < thr THEN y ELSE 0 END) AS BIGINT) AS fn
              |         FROM scored, grid GROUP BY 1)
              |SELECT thr, tp, fp, fn,
              |       round(tp / CAST(tp + fp AS DOUBLE), 4) AS precision,
              |       round(tp / CAST(tp + fn AS DOUBLE), 4) AS recall,
              |       round(2.0 * tp / (2.0 * tp + fp + fn), 4) AS f1
              |FROM agg ORDER BY thr""".stripMargin)),

    GQuery(
      "eval_ndcg_at_k",
      (s, dir) => {
        // NDCG@10 of label-match retrieval for a FIXED 40-query probe
        // set (1-in-50 ids capped below 2000 — an eval query set is a
        // fixed workload; the uncapped 2%-of-corpus form scanned
        // O(N²/50) and the r12 sf1 sweep measured it at 11× per 10×
        // data; the cap changes nothing at the driver SFs and pins the
        // scan to O(N·40)): candidates ranked by cosine (the system
        // ordering) vs the same candidates ranked by relevance (the
        // ideal ordering) — IDCG falls out of the identical rank/sum
        // tail, no closed-form needed. rel = same-label. Queries
        // broadcast against the corpus; both rankings are per-query
        // windows over the scored candidates with deterministic
        // tiebreaks.
        val e = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("em"))
        val q = e.where(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
          .select(col("vec_id").as("qid"), col("label").as("ql"),
            col("em").as("qe"))
        val sc = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"),
            when(col("label") === col("ql"), 1).otherwise(0).as("rel"),
            CosineSimilarity.cosine_sim("qe", "em").as("sim"), col("vec_id"))
        val sys = Window.partitionBy("qid").orderBy(desc("sim"), asc("vec_id"))
        val ideal = Window.partitionBy("qid").orderBy(desc("rel"), asc("vec_id"))
        sc.withColumn("rs", row_number().over(sys))
          .withColumn("ri", row_number().over(ideal))
          .groupBy("qid").agg(
            sum("rel").cast("long").as("n_rel"),
            sum(when(col("rs") <= 10,
              col("rel") / log2(col("rs") + 1)).otherwise(0.0)).as("dcg"),
            sum(when(col("ri") <= 10,
              col("rel") / log2(col("ri") + 1)).otherwise(0.0)).as("idcg"))
          .select(col("qid"), col("n_rel"),
            round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
            round(when(col("idcg") > 0, col("dcg") / col("idcg"))
              .otherwise(0.0), 6).as("ndcg"))
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS em
             |           FROM embeddings),
             | q AS (SELECT vec_id AS qid, label AS ql, em AS qe
             |       FROM e WHERE vec_id % 50 = 0 AND vec_id < 2000),
             | sc AS (SELECT qid,
             |               CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel,
             |               list_cosine_similarity(q.qe, e.em) AS sim, e.vec_id
             |        FROM e JOIN q ON e.vec_id <> q.qid),
             | r AS (SELECT qid, rel,
             |              row_number() OVER (PARTITION BY qid
             |                ORDER BY sim DESC, vec_id) AS rs,
             |              row_number() OVER (PARTITION BY qid
             |                ORDER BY rel DESC, vec_id) AS ri
             |       FROM sc),
             | g AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
             |              sum(CASE WHEN rs <= 10
             |                       THEN rel / log2(rs + 1) ELSE 0 END) AS dcg,
             |              sum(CASE WHEN ri <= 10
             |                       THEN rel / log2(ri + 1) ELSE 0 END) AS idcg
             |       FROM r GROUP BY 1)
             |SELECT qid, n_rel, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
             |       round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0 END, 6) AS ndcg
             |FROM g ORDER BY qid""".stripMargin))
  )
}
