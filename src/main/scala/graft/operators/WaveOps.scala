package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 wave 4: exact rolling medians, sorted-neighborhood record
  * linkage, label-propagation communities, matryoshka (truncated-dim)
  * two-stage retrieval, content-defined chunking, and exact DECIMAL
  * money aggregation. All DuckDB-oracle-checked.
  */
object WaveOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("em"))

  val all: Seq[GQuery] = Seq(

    GQuery(
      "window_median_rolling",
      (s, dir) => {
        // Rolling EXACT median (7-row frame) per user — the robust
        // smoother for spiky series (a rolling mean chases outliers; the
        // median ignores them). Spark has no median window function;
        // composed as collect-over-frame → array_sort → middle, which is
        // exactly right for SMALL frames: per-row cost O(w log w) with
        // w=7, state bounded by the frame, and the one exchange is the
        // per-user series sort every window op pays anyway. Even-count
        // frames interpolate (avg of the two middles) to match
        // median() semantics.
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-6, 0)
        val arr = array_sort(collect_list(col("value")).over(w))
        val n = size(arr)
        val med = when(n % 2 === 1,
            element_at(arr, ((n + 1) / lit(2)).cast("int")))
          .otherwise((element_at(arr, (n / lit(2)).cast("int")) +
            element_at(arr, (n / lit(2)).cast("int") + 1)) / 2.0)
        Tables.t(s, dir, "events")
          .where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), round(med, 4).as("med"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |       round(median(value) OVER (PARTITION BY user_id
             |                                 ORDER BY ts, event_id
             |                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY user_id, event_id""".stripMargin)),

    GQuery(
      "dedup_sorted_neighborhood",
      (s, dir) => {
        // SORTED-NEIGHBORHOOD record linkage: sort within a block by the
        // linkage key, compare each row only to its next w=2 neighbors —
        // the classic alternative to pure blocking when near-duplicates
        // share a PREFIX but not a block hash. Cost is w rows per input
        // row (linear!), vs quadratic within-block pairs. The lead()
        // columns make the neighbor pairs without a self-join: one
        // window exchange, zero join shuffles. Thresholded levenshtein
        // comparisons are rewritten to the banded DP by
        // BoundedLevenshteinRule (abandon rows early at distance > 3).
        val w = Window.partitionBy("p_brand").orderBy("p_name", "p_partkey")
        val sdf = Tables.t(s, dir, "part")
          .select(col("p_brand"), col("p_partkey"), col("p_name"),
            lead("p_name", 1).over(w).as("n1"), lead("p_partkey", 1).over(w).as("k1"),
            lead("p_name", 2).over(w).as("n2"), lead("p_partkey", 2).over(w).as("k2"))
        val lane1 = sdf.where(col("n1").isNotNull)
          .select(col("p_partkey").as("pa"), col("k1").as("pb"),
            levenshtein(col("p_name"), col("n1")).cast("long").as("d"))
        val lane2 = sdf.where(col("n2").isNotNull)
          .select(col("p_partkey").as("pa"), col("k2").as("pb"),
            levenshtein(col("p_name"), col("n2")).cast("long").as("d"))
        lane1.unionAll(lane2)
          .where(col("d") <= 3)
          .orderBy("pa", "pb")
      },
      Some("""WITH s AS (SELECT p_brand, p_partkey, p_name,
             |                  lead(p_name, 1) OVER w AS n1, lead(p_partkey, 1) OVER w AS k1,
             |                  lead(p_name, 2) OVER w AS n2, lead(p_partkey, 2) OVER w AS k2
             |           FROM part
             |           WINDOW w AS (PARTITION BY p_brand ORDER BY p_name, p_partkey)),
             | pairs AS (
             |  SELECT p_partkey AS pa, k1 AS pb, levenshtein(p_name, n1)::BIGINT AS d
             |  FROM s WHERE n1 IS NOT NULL
             |  UNION ALL
             |  SELECT p_partkey, k2, levenshtein(p_name, n2)::BIGINT
             |  FROM s WHERE n2 IS NOT NULL)
             |SELECT pa, pb, d FROM pairs WHERE d <= 3
             |ORDER BY pa, pb""".stripMargin)),

    GQuery(
      "graph_label_propagation",
      (s, dir) => {
        // Synchronous LABEL PROPAGATION (2 rounds) over the co-purchase
        // graph — community detection as a DataFrame fixpoint. Each
        // round: neighbors vote their current label, a node adopts the
        // most frequent (smallest label breaks ties — fully
        // deterministic, no async ordering dependence). Each round is
        // one join + one count aggregate + one argmax window, all keyed
        // by node — the same Pregel-as-DataFrame shape as PageRank, and
        // the oracle replays it exactly in SQL.
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val e = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") =!= col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
          .distinct().localCheckpoint()
        var labels = e.select(col("src").as("node")).distinct()
          .withColumn("lbl", col("node"))
        for (_ <- 1 to 2) {
          labels = e.join(labels, col("src") === col("node"))
            .groupBy(col("dst").as("nd"), col("lbl"))
            .agg(count(lit(1)).as("c"))
            .withColumn("rn", row_number().over(
              Window.partitionBy("nd").orderBy(desc("c"), asc("lbl"))))
            .where(col("rn") === 1)
            .select(col("nd").as("node"), col("lbl"))
        }
        labels.orderBy("node")
      },
      Some("""WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |           FROM lineitem a JOIN lineitem b
             |             ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
             | l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
             | v1 AS (SELECT dst AS node, lbl, count(*) AS c
             |        FROM e JOIN l0 ON e.src = l0.node GROUP BY 1, 2),
             | l1 AS (SELECT node, lbl FROM (
             |          SELECT node, lbl,
             |                 row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
             |          FROM v1) WHERE rn = 1),
             | v2 AS (SELECT dst AS node, lbl, count(*) AS c
             |        FROM e JOIN l1 ON e.src = l1.node GROUP BY 1, 2),
             | l2 AS (SELECT node, lbl FROM (
             |          SELECT node, lbl,
             |                 row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
             |          FROM v2) WHERE rn = 1)
             |SELECT node, lbl FROM l2 ORDER BY node""".stripMargin)),

    GQuery(
      "emb_matryoshka_rerank",
      (s, dir) => {
        // MATRYOSHKA two-stage retrieval: rank by cosine over the FIRST
        // 16 of 64 dims (4× cheaper scan — MRL-trained embeddings front-
        // load information), keep top-3, carry the full-dim score as the
        // rerank column. At 100 TB the truncated pass is the one that
        // touches the whole corpus (¼ the flops and bytes of full-dim);
        // the full-dim rerank reads only |probes|·k candidates. Slice
        // semantics: slice(em,1,16) ≡ DuckDB em[1:16]; both cosines are
        // the sequential-order codegen kernel, so ranks are bit-stable.
        val e = emb(s, dir)
        // probe set capped at 20 — same fixed-workload rationale (and
        // same unchanged-at-driver-SFs argument) as sim_mips_topk; the
        // r12 sf1 sweep measured the proportional-probe form at 40×
        // per 10× data
        val q = broadcast(e.where(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
          .select(col("vec_id").as("qid"), col("em").as("qe")))
        val sc = e.join(q, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            expr("cosine_sim(slice(qe, 1, 16), slice(em, 1, 16))").as("st"),
            expr("cosine_sim(qe, em)").as("sf"))
        val w = Window.partitionBy("qid").orderBy(desc("st"), asc("vec_id"))
        sc.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .select(col("qid"), col("rn"), col("vec_id"),
            round(col("st"), 4).as("st"), round(col("sf"), 4).as("sf"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             | q AS (SELECT vec_id AS qid, em AS qe FROM e
 |        WHERE vec_id % 100 = 0 AND vec_id < 2000),
             | sc AS (SELECT qid, e.vec_id,
             |               list_cosine_similarity(qe[1:16], em[1:16]) AS st,
             |               list_cosine_similarity(qe, em) AS sf
             |        FROM e, q WHERE e.vec_id <> qid),
             | r AS (SELECT qid, vec_id, st, sf,
             |              row_number() OVER (PARTITION BY qid ORDER BY st DESC, vec_id) AS rn
             |       FROM sc)
             |SELECT qid, rn::BIGINT AS rn, vec_id,
             |       round(st, 4) AS st, round(sf, 4) AS sf
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    GQuery(
      "docs_cdc_chunks",
      (s, dir) => {
        // CONTENT-DEFINED chunking: a chunk boundary falls after every
        // token whose portable hash ≡ 0 (mod 8) — boundaries depend only
        // on LOCAL content, so an insertion early in a document shifts
        // at most one chunk instead of re-offsetting every fixed-size
        // window (the FastCDC/rsync insight, applied at token level;
        // expected chunk length = 8 tokens). Map-only until the per-doc
        // cumulative-boundary window; the hash is the md5-derived
        // portable hash, so the oracle replays boundaries exactly.
        val tok = docs(s, dir)
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("tok"))
        val b = when(DedupOps.portableHash(col("tok"), 0) % 8 === 0, 1L)
          .otherwise(0L)
        val w = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        tok.withColumn("chunk", coalesce(sum(b).over(w), lit(0L)))
          .groupBy("doc_id", "chunk")
          .agg(count(lit(1)).as("n_tok"))
          .orderBy("doc_id", "chunk")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             | x AS (SELECT doc_id,
             |              unnest([{'pos': i, 'tok': tk[i]} for i in range(1, len(tk) + 1)],
             |                     recursive := true)
             |       FROM t),
             | f AS (SELECT doc_id, pos, tok,
             |              CASE WHEN ('0x' || substring(md5('0:' || tok), 1, 8))::BIGINT % 8 = 0
             |                   THEN 1 ELSE 0 END AS b
             |       FROM x),
             | c AS (SELECT doc_id, pos,
             |              coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
             |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |                       0) AS chunk
             |       FROM f)
             |SELECT doc_id, chunk::BIGINT AS chunk, count(*)::BIGINT AS n_tok
             |FROM c GROUP BY doc_id, chunk
             |ORDER BY doc_id, chunk""".stripMargin)),

    GQuery(
      "agg_decimal_exact",
      (s, dir) => {
        // EXACT money aggregation: sums over DECIMAL(18,2), not DOUBLE.
        // Every other money query here rounds after a double sum (and
        // documents why); this one is the principled form — decimal
        // partial aggregates are exact integers under the hood, so
        // distributed summation order CANNOT change the answer, at any
        // scale, ever. Output as canonical decimal strings: the value
        // the two engines agree on is the exact one, no rounding rule
        // involved.
        Tables.t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("total"),
            // factors cast to decimal BEFORE multiplying: decimal×decimal
            // is exact (scale 4), so no per-row rounding exists to
            // diverge. Casting the double PRODUCT instead is a trap —
            // Spark rounds the shortest decimal representation of the
            // double, DuckDB the exact binary value, and the two disagree
            // by a cent on ~half the rows.
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("string").as("disc_total"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       CAST(sum(l_extendedprice::DECIMAL(18,2)) AS VARCHAR) AS total,
             |       CAST(sum(l_extendedprice::DECIMAL(18,2) *
             |                (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))) AS VARCHAR) AS disc_total,
             |       count(*)::BIGINT AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
