package graft.operators

import graft.{GQuery, Tables}
import graft.functions.CosineSimilarity
import graft.plans.AsOfJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 wave 9 — ML featurization correctness operators: the
  * point-in-time join (feature-leakage guard), leave-one-out target
  * encoding, and the feature-hashing trick. All DuckDB-oracle-checked.
  */
object FeatureOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "join_point_in_time",
      (s, dir) => {
        // POINT-IN-TIME join — the feature-leakage guard: each event is
        // joined to the dimension state that was valid AT its timestamp
        // (never a later one). The SCD2 interval table derives from
        // per-user state changes; the temporal join itself is the
        // existing single-exchange AS-OF operator (attach the latest
        // change ≤ ts), which is exactly equivalent to the interval
        // form when consecutive intervals partition the timeline — and
        // unlike the range join the oracle runs, it never multiplies
        // rows at any scale. Training pipelines that skip this join are
        // how future information leaks into features.
        val ev = Tables.t(s, dir, "events")
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val changes = ev
          .select(col("user_id"), col("ts"), col("event_type"),
            lag("event_type", 1).over(w).as("prev"))
          .where(col("prev").isNull || col("prev") =!= col("event_type"))
          .select(col("user_id").as("c_user"), col("ts").as("cts"),
            col("event_type").as("state"))
        AsOfJoin.asof(
            ev.select("event_id", "user_id", "ts"), changes,
            leftKey = "user_id", rightKey = "c_user",
            leftTime = "ts", rightTime = "cts",
            rightPayload = Seq("state"), rightTiebreak = Seq("state"))
          .select(col("event_id"), col("user_id"), col("state"))
          .orderBy("event_id")
      },
      Some("""WITH ordered AS (SELECT user_id, ts, event_id, event_type,
             |                        lag(event_type) OVER (PARTITION BY user_id
             |                                              ORDER BY ts, event_id) AS prev
             |                 FROM events),
             | changes AS (SELECT user_id, ts AS vfrom, event_type AS state,
             |                    lead(ts) OVER (PARTITION BY user_id
             |                                   ORDER BY ts, event_type) AS vto
             |             FROM ordered WHERE prev IS NULL OR prev <> event_type)
             |SELECT e.event_id, e.user_id, c.state
             |FROM events e JOIN changes c
             |  ON e.user_id = c.user_id AND e.ts >= c.vfrom
             | AND (c.vto IS NULL OR e.ts < c.vto)
             |ORDER BY e.event_id""".stripMargin)),

    GQuery(
      "feat_target_encode_loo",
      (s, dir) => {
        // LEAVE-ONE-OUT target encoding: each row's category encodes as
        // the mean target of all OTHER rows in its category —
        // (sum − y) / (n − 1). Plain mean encoding leaks the row's own
        // label; LOO removes it with zero extra passes: one per-category
        // aggregate broadcast back onto the stream.
        val ev = Tables.t(s, dir, "events")
        val g = ev.groupBy("event_type")
          .agg(sum("value").as("sv"), count(lit(1)).as("n"))
        ev.join(broadcast(g), "event_type")
          .where(col("n") > 1)
          .select(col("event_id"),
            round((col("sv") - col("value")) / (col("n") - 1), 4).as("loo"))
          .orderBy("event_id")
      },
      Some("""WITH g AS (SELECT event_type, sum(value) AS sv, count(*) AS n
             |           FROM events GROUP BY 1)
             |SELECT event_id, round((sv - value) / (n - 1), 4) AS loo
             |FROM events JOIN g USING (event_type)
             |WHERE n > 1 ORDER BY event_id""".stripMargin)),

    GQuery(
      "emb_knn_accuracy",
      (s, dir) => {
        // k-NN LABEL EVALUATION (leave-one-out): predict each PROBE
        // vector's label by majority vote of its 5 nearest neighbors
        // over the FULL corpus, report per-class accuracy — the
        // standard embedding-quality probe. The probe side is a FIXED
        // 500-vector sample (ids < 500 — the whole corpus at sf0.001,
        // a sample above it): an evaluation metric is estimated on a
        // sample, it does not grow with the corpus — the uncapped
        // leave-EVERYONE-out form was a full N² self-join that the r12
        // sf1 sweep measured at 170× per 10× data; sampled probes make
        // the scan O(500·N), i.e. linear, while neighbors still come
        // from everywhere. At 100 TB the neighbor set comes from the
        // ANN path (sim_ann_ivfpq / binary-Hamming) and this same
        // vote+score tail runs on candidates. Both argmaxes (top-5
        // neighbors, majority label) are WindowGroupLimit-pruned
        // windows with deterministic tiebreaks.
        val e = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("em"))
        val sc = e.where(col("vec_id") < 500).as("a")
          .join(e.as("b"), col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("qa"), col("a.label").as("la"),
            col("b.vec_id").as("qb"), col("b.label").as("lb"),
            CosineSimilarity.cosine_sim("a.em", "b.em").as("sim"))
        val top = sc.withColumn("rn", row_number().over(
            Window.partitionBy("qa").orderBy(desc("sim"), asc("qb"))))
          .where(col("rn") <= 5)
        val vote = top.groupBy("qa", "la", "lb").agg(count(lit(1)).as("c"))
        val pred = vote.withColumn("rn", row_number().over(
            Window.partitionBy("qa").orderBy(desc("c"), asc("lb"))))
          .where(col("rn") === 1)
        pred.groupBy(col("la").as("lbl"))
          .agg(count(lit(1)).as("n"),
            count(when(col("lb") === col("la"), 1)).as("correct"))
          .select(col("lbl"), col("n"), col("correct"),
            round(col("correct").cast("double") / col("n"), 4).as("acc"))
          .orderBy("lbl")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS em FROM embeddings),
             | sc AS (SELECT a.vec_id AS qa, a.label AS la, b.vec_id AS qb,
             |               b.label AS lb, list_cosine_similarity(a.em, b.em) AS sim
             |        FROM e a JOIN e b ON a.vec_id <> b.vec_id
             |        WHERE a.vec_id < 500),
             | top AS (SELECT qa, la, lb FROM (
             |           SELECT qa, la, lb,
             |                  row_number() OVER (PARTITION BY qa
             |                                     ORDER BY sim DESC, qb) AS rn
             |           FROM sc) WHERE rn <= 5),
             | vote AS (SELECT qa, la, lb, count(*) AS c FROM top GROUP BY 1, 2, 3),
             | pred AS (SELECT qa, la, lb AS pl FROM (
             |            SELECT qa, la, lb,
             |                   row_number() OVER (PARTITION BY qa
             |                                      ORDER BY c DESC, lb) AS rn
             |            FROM vote) WHERE rn = 1)
             |SELECT la AS lbl, count(*)::BIGINT AS n,
             |       count(*) FILTER (pl = la)::BIGINT AS correct,
             |       round(count(*) FILTER (pl = la)::DOUBLE / count(*), 4) AS acc
             |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "emb_hard_negatives",
      (s, dir) => {
        // HARD-NEGATIVE mining for contrastive training: per anchor, the
        // most-similar vector with a DIFFERENT label (the hardest
        // negative) next to the most-similar same-label vector (the
        // hardest positive) and their margin — the pairs a triplet/InfoNCE
        // objective learns most from. Candidates come from the
        // ADAPTIVE-WIDTH SRP buckets (the r12 scale fix — the former
        // all-pairs self-join was the same N² the sweep measured at
        // 125-170× on its siblings; hard negatives/positives are
        // HIGH-similarity vectors, exactly what bucket collisions
        // surface, and the oracle replays the buckets so the
        // approximation is hash-pinned, not asserted), on the GROWN key
        // layout since r14 (plane cap 36 + table growth — the cap-12
        // layout re-quadratized at 256k vectors).
        // Both per-anchor argmaxes come from ONE conditional hash
        // aggregate over the scored candidates — max(when(arm,
        // struct(sim, -cand, cand))) reproduces the (sim DESC, cand
        // ASC) tiebreak lexicographically, max ignores the other arm's
        // nulls, and partial aggregation combines map-side. The r13
        // form filtered AFTER the scored join into two row_number
        // windows, so the candidate-rerank subtree was planned twice
        // (exchange reuse AQE-dependent) and each branch paid a full
        // window SORT — the two 113M-row windows that OOM-killed the
        // 8g driver at sf6x (SCALE.md r13).
        val e = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), _.cast("double")).as("em"))
        // labels ride the keyed frame and the cosine evaluates in the
        // bucket join, where both vectors are co-located — the r14
        // restructure shared with annTopKPortableGrown (the r13 shuffle
        // join-backs carried the anchor vector through the second
        // id-keyed exchange: ~120 GB at 320k vectors, the
        // array-through-shuffle class the wide_shuffles lint names).
        // No candidate distinct either: the per-anchor argmax below is
        // multiset-invariant (cross-table duplicates are bit-identical
        // and max collapses them map-side), so the only exchanges after
        // the bucket key are skinny scalar rows. wide_shuffles fixture
        // entry: that single bucket-key exchange (the em column rides
        // it exactly once) plus the bounded parallelized() round-robin
        // are the deliberate array shuffles this query carries.
        val keyed = SimilarityOps.SrpGrown.keyed(e, dims = 64)
        val sc = keyed.as("a").hint("merge").join(keyed.as("b"),
            col("a.bk") === col("b.bk") && col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("anchor"), col("a.label").as("la"),
            col("b.vec_id").as("cand"), col("b.label").as("lb"),
            CosineSimilarity.cosine_sim("a.em", "b.em").as("sim"))
        sc.groupBy("anchor")
          .agg(
            max(when(col("la") =!= col("lb"),
              struct(col("sim").as("sn"), (-col("cand")).as("nc"),
                col("cand").as("hard_neg")))).as("hn"),
            max(when(col("la") === col("lb"), col("sim"))).as("sp"))
          .where(col("hn").isNotNull && col("sp").isNotNull)
          .select(col("anchor"), col("hn.hard_neg").as("hard_neg"),
            round(col("hn.sn"), 4).as("sn"), round(col("sp"), 4).as("sp"),
            round(col("sp") - col("hn.sn"), 4).as("margin"))
          .orderBy("anchor")
      },
      Some(s"""${SimilarityOps.srpGrownKeysSql(dims = 64)},
             | cand AS (SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS cand
             |          FROM keys a JOIN keys b
             |            ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id <> b.vec_id),
             | sc AS (SELECT anchor, ea.label AS la, cand, eb.label AS lb,
             |               list_cosine_similarity(ea.em, eb.em) AS sim
             |        FROM cand JOIN e ea ON anchor = ea.vec_id
             |                  JOIN e eb ON cand = eb.vec_id),
             | hn AS (SELECT anchor, cand AS hard_neg, sim AS sn FROM (
             |          SELECT anchor, cand, sim,
             |                 row_number() OVER (PARTITION BY anchor
             |                                    ORDER BY sim DESC, cand) AS rn
             |          FROM sc WHERE la <> lb) WHERE rn = 1),
             | hp AS (SELECT anchor, sim AS sp FROM (
             |          SELECT anchor, cand, sim,
             |                 row_number() OVER (PARTITION BY anchor
             |                                    ORDER BY sim DESC, cand) AS rn
             |          FROM sc WHERE la = lb) WHERE rn = 1)
             |SELECT anchor, hard_neg, round(sn, 4) AS sn, round(sp, 4) AS sp,
             |       round(sp - sn, 4) AS margin
             |FROM hn JOIN hp USING (anchor)
             |ORDER BY anchor""".stripMargin),
      // r15: third restructured production path joins the bench
      // headline set — until now the only one of the three with no
      // committed cold/warm row, so a regression was invisible.
      bench = true),

    GQuery(
      "feat_hashing_trick",
      (s, dir) => {
        // FEATURE HASHING (the hashing trick): tokens map to a fixed
        // 64-bucket space via the portable hash, a second independent
        // hash supplies the ±1 sign (the unbiasedness trick from
        // Weinberger et al.). Vocabulary-free featurization — no dict
        // to build, broadcast, or version; the whole op is one keyed
        // aggregate over (doc, bucket) with map-side combine. Integer
        // signed counts → exact at any parallelism.
        val tok = Tables.t(s, dir, "documents")
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val b = conv(substring(md5(
          concat(lit("fh:"), col("w")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % 64
        val sg = when(conv(substring(md5(
          concat(lit("sg:"), col("w")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, 1L).otherwise(-1L)
        tok.select(col("doc_id"), b.as("bucket"), sg.as("sg"))
          .groupBy("doc_id", "bucket")
          .agg(sum("sg").as("wt"))
          .where(col("wt") =!= 0)
          .orderBy("doc_id", "bucket")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |                    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
             |             FROM documents),
             | h AS (SELECT doc_id,
             |              ('0x' || substring(md5('fh:' || w), 1, 8))::BIGINT % 64 AS bucket,
             |              CASE WHEN ('0x' || substring(md5('sg:' || w), 1, 8))::BIGINT % 2 = 0
             |                   THEN 1 ELSE -1 END AS sg
             |       FROM tok)
             |SELECT doc_id, bucket, sum(sg)::BIGINT AS wt
             |FROM h GROUP BY 1, 2 HAVING sum(sg) <> 0
             |ORDER BY doc_id, bucket""".stripMargin))
  )
}
