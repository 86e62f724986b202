package graft.operators

import graft.{GQuery, Tables}
import graft.functions.{DotProduct, JaroWinkler}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 additions: fuzzy string matching with a native Jaro-Winkler
  * expression, BFS graph traversal as an iterative frontier, seeded
  * deterministic corpus shuffling/sharding, n-gram containment (the
  * asymmetric near-superset detector exact Jaccard misses), an
  * explicitly salted skew join, association-rule mining metrics,
  * day-of-week seasonal baselines, and maximum-inner-product top-k.
  *
  * Every query here is DuckDB-oracle-checked (GQuery conventions: same
  * column names, total-order ORDER BY, rounded floats).
  */
object FuzzyOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("em"))

  /** MULTI-PASS sorted-neighborhood Jaro-Winkler pairs within brand
    * blocks: for each pass's sort key (p_name forward, then REVERSED —
    * a pair differing early in the string sorts far apart forward but
    * adjacent reversed), row-number each block in key order and pair
    * each row with its next 8 sorted neighbors via an equi-join on the
    * shifted rank — O(N·W·passes) scores, never a within-block cross
    * product. Keep JW ≥ 0.9, union the passes. Measured recall vs the
    * full blocked form: 1325/1599 one-pass → 1596/1599 two-pass at
    * sf0.01 (the audit query keeps the per-pair receipt). Shared by
    * the production query and its recall audit.
    */
  private def sortedNeighborhoodJw(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.t(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
    def onePass(key: Column): DataFrame = {
      val rn = p.withColumn("rn", row_number().over(
        Window.partitionBy("p_brand").orderBy(key, col("p_partkey"))))
      val probes = rn.select(col("p_brand"), col("rn"),
          col("p_partkey").as("k1"), col("p_name").as("n1"),
          explode(sequence(lit(1), lit(8))).as("d"))
        .select(col("p_brand"), (col("rn") + col("d")).as("rn2"),
          col("k1"), col("n1"))
      probes.join(rn.select(col("p_brand"), col("rn").as("rn2"),
            col("p_partkey").as("k2"), col("p_name").as("n2")),
          Seq("p_brand", "rn2"))
        .where(JaroWinkler.jaro_winkler("n1", "n2") >= 0.9)
        .select(least(col("k1"), col("k2")).as("p1"),
          greatest(col("k1"), col("k2")).as("p2"),
          round(JaroWinkler.jaro_winkler("n1", "n2"), 4).as("j_w"))
    }
    onePass(col("p_name")).union(onePass(reverse(col("p_name"))))
      .dropDuplicates("p1", "p2")
  }

  /** The oracle's window-side CTEs (shared by both sorted queries). */
  private val sortedNeighborhoodSql =
    """WITH r1 AS (SELECT p_partkey, p_name, p_brand,
      |                   row_number() OVER (PARTITION BY p_brand
      |                                      ORDER BY p_name, p_partkey) AS rn
      |            FROM part),
      |  r2 AS (SELECT p_partkey, p_name, p_brand,
      |                row_number() OVER (PARTITION BY p_brand
      |                                   ORDER BY reverse(p_name), p_partkey) AS rn
      |         FROM part),
      |  w1 AS (SELECT least(a.p_partkey, b.p_partkey) AS p1,
      |                greatest(a.p_partkey, b.p_partkey) AS p2,
      |                round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS j_w
      |         FROM r1 a JOIN r1 b
      |           ON a.p_brand = b.p_brand AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
      |         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9),
      |  w2 AS (SELECT least(a.p_partkey, b.p_partkey) AS p1,
      |                greatest(a.p_partkey, b.p_partkey) AS p2,
      |                round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS j_w
      |         FROM r2 a JOIN r2 b
      |           ON a.p_brand = b.p_brand AND b.rn BETWEEN a.rn + 1 AND a.rn + 8
      |         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9),
      |  w AS (SELECT p1, p2, j_w FROM w1 UNION SELECT p1, p2, j_w FROM w2)""".stripMargin

  val all: Seq[GQuery] = Seq(

    GQuery(
      "string_jaro_winkler",
      (s, dir) => {
        // Fuzzy entity matching: near-identical part names within a
        // brand block, scored by the native codegen JaroWinkler
        // expression (Spark ships only levenshtein; this is the scorer
        // record-linkage pipelines actually use — prefix-boosted, length
        // -normalized). Blocking on p_brand keeps the candidate set
        // linear-ish: the cross product never forms, only within-block
        // pairs — the standard blocked-record-linkage shape, which at
        // 100 TB is one shuffle on the block key and bounded per-block
        // quadratic work. Validated bit-identical to DuckDB's
        // jaro_winkler_similarity on random corpora (see JaroWinkler
        // scaladoc).
        val p = Tables.t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
        // threshold INSIDE the join condition (the srpPairsAbove
        // pattern): the scorer runs once per candidate pair while the
        // pair is still virtual; only the ~0.02% of survivors re-score
        // in the projection. A post-join filter gets pushed back under
        // the project and evaluates the O(len²) scorer twice per pair.
        p.as("a").join(p.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.p_partkey") < col("b.p_partkey") &&
              JaroWinkler.jaro_winkler("a.p_name", "b.p_name") >= 0.9)
          .select(col("a.p_partkey").as("p1"), col("b.p_partkey").as("p2"),
            round(JaroWinkler.jaro_winkler("a.p_name", "b.p_name"), 4).as("jw"))
          .orderBy("p1", "p2")
      },
      Some("""SELECT a.p_partkey AS p1, b.p_partkey AS p2,
             |       round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
             |ORDER BY p1, p2""".stripMargin)),

    GQuery(
      "string_jaro_winkler_sorted",
      (s, dir) => {
        // SORTED-NEIGHBORHOOD linkage — the linear-cost production form
        // of string_jaro_winkler. The plain blocked form's cost is
        // (N/|blocks|)² per block, and p_brand has a FIXED 25-ish
        // values, so its work grows QUADRATICALLY with the corpus —
        // measured 64× wall-clock at 10× parts in the round-12 wave
        // (SCALE.md). Here each block is sorted by name (two passes:
        // forward and reversed key) and only rows within a window of 8
        // sorted neighbors are compared — O(N·W·2) scores total — the
        // standard record-linkage scale technique (near-identical
        // strings sort adjacently under SOME pass's key). Recall vs
        // the full blocked form is audited per pair by
        // string_jaro_winkler_sorted_audit (kept separate so THIS
        // query's cost is the production path's, not the audit's).
        sortedNeighborhoodJw(s, dir)
          .withColumnRenamed("j_w", "jw")
          .orderBy("p1", "p2")
      },
      Some(s"""$sortedNeighborhoodSql
             |SELECT p1, p2, j_w AS jw FROM w ORDER BY p1, p2""".stripMargin)),

    GQuery(
      "string_jaro_winkler_sorted_audit",
      (s, dir) => {
        // RECALL AUDIT for the sorted-neighborhood form: window and
        // full-blocked pair sets full-outer-joined into
        // in_window/in_blocked flags, and the oracle recomputes BOTH
        // sides, so either engine losing or inventing a pair fails the
        // hash. Deliberately runs the quadratic blocked reference —
        // this is the audit you run on a sample at 100 TB, never the
        // serving path (the dedup_ngram_jaccard_capped precedent).
        val p = Tables.t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
        val win = sortedNeighborhoodJw(s, dir)
        val full = p.as("a").join(p.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.p_partkey") < col("b.p_partkey") &&
              JaroWinkler.jaro_winkler("a.p_name", "b.p_name") >= 0.9)
          .select(col("a.p_partkey").as("p1"), col("b.p_partkey").as("p2"),
            round(JaroWinkler.jaro_winkler("a.p_name", "b.p_name"), 4).as("j_b"))
        win.join(full, Seq("p1", "p2"), "full_outer")
          .select(col("p1"), col("p2"),
            coalesce(col("j_b"), col("j_w")).as("jw"),
            col("j_w").isNotNull.as("in_window"),
            col("j_b").isNotNull.as("in_blocked"))
          .orderBy("p1", "p2")
      },
      Some(s"""$sortedNeighborhoodSql,
             |  f AS (SELECT a.p_partkey AS p1, b.p_partkey AS p2,
             |               round(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS j_b
             |        FROM part a JOIN part b
             |          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
             |        WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9)
             |SELECT coalesce(w.p1, f.p1) AS p1, coalesce(w.p2, f.p2) AS p2,
             |       coalesce(j_b, j_w) AS jw,
             |       (j_w IS NOT NULL) AS in_window,
             |       (j_b IS NOT NULL) AS in_blocked
             |FROM w FULL OUTER JOIN f ON w.p1 = f.p1 AND w.p2 = f.p2
             |ORDER BY p1, p2""".stripMargin)),

    GQuery(
      "graph_bfs_levels",
      (s, dir) => {
        // Multi-source BFS over the co-purchase graph: distance-from-
        // seed-set labels (the reachability/blast-radius primitive;
        // lineage tracing and contamination spread use the same plan).
        // Iterative FRONTIER expansion: each round joins only the new
        // frontier against the edge list — visited nodes never re-enter
        // the join, so total work is O(|E|·diameter-slice), not
        // O(|E|·rounds). localCheckpoint cuts lineage per round exactly
        // like the connected-components fixpoint. At scale the edge list
        // is hash-partitioned by src once; every round's join reuses it.
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val e = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") =!= col("b.l_partkey"))
          .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
          .distinct().localCheckpoint()
        val seeds = li.select(col("l_partkey").as("node"))
          .where(col("l_partkey") % 100 === 0).distinct()
        var visited = seeds.withColumn("lvl", lit(0L))
        var frontier = seeds
        for (l <- 1 to 3) {
          frontier = frontier.join(e, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .localCheckpoint()
          visited = visited.union(frontier.withColumn("lvl", lit(l.toLong)))
        }
        visited.orderBy("node")
      },
      Some("""WITH RECURSIVE
             | e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |       FROM lineitem a JOIN lineitem b
             |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
             | seeds AS (SELECT DISTINCT l_partkey AS node FROM lineitem
             |           WHERE l_partkey % 100 = 0),
             | bfs(node, lvl) AS (
             |   SELECT node, 0 FROM seeds
             |   UNION
             |   SELECT e.dst, bfs.lvl + 1 FROM bfs JOIN e ON e.src = bfs.node
             |   WHERE bfs.lvl < 3)
             |SELECT node, min(lvl)::BIGINT AS lvl
             |FROM bfs GROUP BY node ORDER BY node""".stripMargin)),

    GQuery(
      "docs_shuffle_shard",
      (s, dir) => {
        // Seeded DETERMINISTIC global shuffle + sharding — the final
        // step of every training-data export (decorrelate document
        // order, split into fixed shard files). Order comes from a
        // portable content hash (md5-derived, engine-reproducible — no
        // RNG, no rand()), so the permutation is stable across runs,
        // partitionings, and engines. shard = hash mod 8; pos = rank
        // within shard. At 100 TB this is ONE hash-partitioned
        // repartition(shard) + per-shard sort — no global sort: the
        // within-shard window is the only ordering that matters, and
        // shards are written concurrently.
        val h = conv(substring(md5(
          concat(lit("shuf42:"), col("doc_id").cast("string")).cast("binary")),
          1, 8), 16, 10).cast("long")
        docs(s, dir).select(col("doc_id"), h.as("h"))
          .withColumn("shard", pmod(col("h"), lit(8)).cast("long"))
          .withColumn("pos", row_number().over(
            Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy("shard", "pos")
      },
      Some("""WITH h AS (SELECT doc_id,
             |                  ('0x' || substring(md5('shuf42:' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
             |           FROM documents)
             |SELECT doc_id, (h % 8)::BIGINT AS shard,
             |       (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id))::BIGINT AS pos
             |FROM h ORDER BY shard, pos""".stripMargin)),

    GQuery(
      "text_containment",
      (s, dir) => {
        // n-gram CONTAINMENT |A∩B| / |A| — the asymmetric near-SUPERSET
        // detector. Jaccard misses a short doc fully embedded in a long
        // one (union dominates); containment flags it. Same one-shuffle
        // inverted-index shape as dedup_ngram_jaccard: index rows carry
        // |A| so the pair aggregate yields the score without a sizes
        // join. Emits ORDERED pairs (a != b, both directions possible).
        val inv = docs(s, dir).select(col("doc_id"),
            graft.functions.WordGramHashes.word_gram_hashes("text", 3).as("sh"))
          .select(col("doc_id"), size(col("sh")).as("n_sh"),
            explode(col("sh")).as("sg"))
        inv.as("a").hint("shuffle_hash").join(inv.as("b"),
            col("a.sg") === col("b.sg") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.n_sh").as("na"))
          .agg(count(lit(1)).as("inter"))
          .select(col("doc_a"), col("doc_b"),
            (col("inter").cast("double") / col("na")).as("cont"))
          .where(col("cont") >= 0.5)
          .select(col("doc_a"), col("doc_b"), round(col("cont"), 4).as("cont"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     g AS (SELECT doc_id,
             |                  list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                 for i in range(1, len(tk) - 1)]) AS sg
             |           FROM t WHERE len(tk) >= 3),
             |     x AS (SELECT doc_id, len(sg) AS n_sh, unnest(sg) AS s FROM g)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       round(count(*)::DOUBLE / any_value(a.n_sh), 4) AS cont
             |FROM x a JOIN x b ON a.s = b.s AND a.doc_id <> b.doc_id
             |GROUP BY 1, 2
             |HAVING count(*)::DOUBLE / any_value(a.n_sh) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "join_skew_salted",
      (s, dir) => {
        // Explicitly SALTED shuffle join — the hot-key mitigation when
        // AQE's skew split can't see the skew (e.g. building-side
        // replication is needed, or a deterministic plan is required).
        // The fact side gets a deterministic salt (orderkey mod 8 — NOT
        // rand(): reruns and retries must land identically); the dim
        // side is exploded 8× so every (key, salt) bucket finds its
        // match. A hot o_custkey now spreads over 8 reducers instead of
        // one straggler. The aggregate result is provably identical to
        // the unsalted join — which is exactly what the oracle runs.
        val S = 8
        val o = Tables.t(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"),
            pmod(col("o_orderkey"), lit(S)).as("salt"))
        val c = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .withColumn("salt", explode(sequence(lit(0), lit(S - 1))))
        o.join(c, o("o_custkey") === c("c_custkey") && o("salt") === c("salt"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*)::BIGINT AS n,
             |       round(sum(o_totalprice), 2) AS rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "basket_rules",
      (s, dir) => {
        // Association-rule METRICS on the frequent pairs (basket_pairs
        // mines support only): confidence P(b|a) and lift
        // P(a,b)/(P(a)P(b)). Per-item supports broadcast back onto the
        // pair table (two small joins), order count is a scalar literal
        // folded into the projection — no extra shuffle beyond the pair
        // count itself.
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val total = li.select(countDistinct("l_orderkey")).first().getLong(0)
        val supp = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        val pairs = li.as("a").join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
          .agg(count(lit(1)).as("support"))
          .where(col("support") >= 3)
        pairs
          .join(broadcast(supp.select(col("l_partkey").as("part_a"), col("c").as("ca"))), "part_a")
          .join(broadcast(supp.select(col("l_partkey").as("part_b"), col("c").as("cb"))), "part_b")
          .select(col("part_a"), col("part_b"), col("support"),
            round(col("support").cast("double") / col("ca"), 4).as("conf_ab"),
            round(col("support").cast("double") * total /
              (col("ca").cast("double") * col("cb")), 4).as("lift"))
          .orderBy("part_a", "part_b")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             | tot AS (SELECT count(DISTINCT l_orderkey)::DOUBLE AS n FROM li),
             | supp AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY 1),
             | pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             |                  count(*)::BIGINT AS support
             |           FROM li a JOIN li b
             |             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |           GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT part_a, part_b, support,
             |       round(support::DOUBLE / sa.c, 4) AS conf_ab,
             |       round(support::DOUBLE * tot.n / (sa.c::DOUBLE * sb.c), 4) AS lift
             |FROM pairs
             |JOIN supp sa ON part_a = sa.l_partkey
             |JOIN supp sb ON part_b = sb.l_partkey, tot
             |ORDER BY part_a, part_b""".stripMargin)),

    GQuery(
      "events_seasonal_dow",
      (s, dir) => {
        // Day-of-week SEASONAL baseline + residual — the seasonality-
        // aware anomaly shape (a quiet Sunday is normal; the same volume
        // on a Tuesday is not). Two cheap aggregates: daily totals, then
        // the per-(type, dow) profile joined back (broadcast — it's ≤
        // 7×|types| rows) to score each day against its own weekday
        // norm. EXACT FIXED-POINT after the first rounding: daily totals
        // become integer cents, the weekday mean is a floor-divided
        // milli-cent BIGINT, residuals are integer milli-cents — because
        // a mean of .01-grid values lands exactly ON the .xx5 rounding
        // boundary (avg of 4 days ⇒ quarter-cent grid), where cross-
        // engine last-ulp summation order flips round(). Spark's
        // dayofweek is 1-based Sunday; DuckDB's 0-based — the -1 aligns.
        val daily = Tables.t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("d"))
          .agg(round(round(sum("value"), 2) * 100, 0).cast("long").as("cents"))
        val prof = daily
          .groupBy(col("event_type"), (dayofweek(col("d")) - 1).as("dow"))
          .agg(sum("cents").as("sc"), count(lit(1)).as("nd"))
          // integer `div`, not `/`: long / long in the Column DSL is
          // DOUBLE division, and casting 4999.999… back truncates wrong.
          .select(col("event_type"), col("dow"),
            expr("sc * 1000 div nd").cast("long").as("mean_mc"))
        daily.withColumn("dow", dayofweek(col("d")) - 1)
          .join(broadcast(prof), Seq("event_type", "dow"))
          .select(col("event_type"), col("d"), col("cents"),
            col("mean_mc"),
            (col("cents") * 1000 - col("mean_mc")).as("resid_mc"))
          .orderBy("event_type", "d")
      },
      Some("""WITH daily AS (SELECT event_type, ts::DATE AS d,
             |                      round(round(sum(value), 2) * 100, 0)::BIGINT AS cents
             |               FROM events GROUP BY 1, 2),
             | prof AS (SELECT event_type, dayofweek(d) AS dow,
             |                 (sum(cents) * 1000 // count(*))::BIGINT AS mean_mc
             |          FROM daily GROUP BY 1, 2)
             |SELECT daily.event_type AS event_type, d, cents, mean_mc,
             |       (cents * 1000 - mean_mc)::BIGINT AS resid_mc
             |FROM daily JOIN prof
             |  ON daily.event_type = prof.event_type AND dayofweek(daily.d) = prof.dow
             |ORDER BY event_type, d""".stripMargin)),

    GQuery(
      "sim_mips_topk",
      (s, dir) => {
        // Maximum-INNER-PRODUCT top-k (MIPS) — retrieval for embeddings
        // trained with a dot-product objective, where magnitude carries
        // signal and cosine's normalization is wrong. Same broadcast-
        // probe + window-top-k plan as sim_topk_bruteforce, scored by
        // the fused codegen DotProduct expression (sequential-order
        // accumulation ⇒ bit-identical to DuckDB list_inner_product).
        val e = emb(s, dir)
        // probe set capped at 20 (first 2000 ids): a retrieval probe
        // set is a FIXED workload, not a corpus fraction — the
        // uncapped %100 fixture made probes 1% of N and the r12 sf1
        // sweep measured the N·N/100 scan at 35× per 10× data; the cap
        // changes nothing at the driver SFs (every %100 id there is
        // already < 2000) and pins the scan to O(N·20)
        val q = broadcast(e.where(col("vec_id") % 100 === 0 && col("vec_id") < 2000)
          .select(col("vec_id").as("qid"), col("em").as("qe")))
        val scored = e.join(q, col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            DotProduct.dot_product("qe", "em").as("ip"))
        val w = Window.partitionBy("qid").orderBy(desc("ip"), asc("vec_id"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .select(col("qid"), col("rn"), col("vec_id"), round(col("ip"), 4).as("ip"))
          .orderBy("qid", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             | q AS (SELECT vec_id AS qid, em AS qe FROM e
 |        WHERE vec_id % 100 = 0 AND vec_id < 2000),
             | sc AS (SELECT qid, e.vec_id, list_inner_product(qe, em) AS ip
             |        FROM e, q WHERE e.vec_id <> qid),
             | r AS (SELECT qid, vec_id, ip,
             |              row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS rn
             |       FROM sc)
             |SELECT qid, rn::BIGINT AS rn, vec_id, round(ip, 4) AS ip
             |FROM r WHERE rn <= 3 ORDER BY qid, rn""".stripMargin)),

    GQuery(
      "er_golden_record",
      (s, dir) => {
        // SURVIVORSHIP MERGE (the last step of entity resolution):
        // matched records from two sources collapse to one golden
        // record, each column independently taking the highest-priority
        // NON-NULL value. The two source feeds are deterministic
        // degradations of customer (CRM: names uppercased, every third
        // balance missing; WEB: segment missing for even keys) so the
        // merge has real per-column work to do. Per column the rule is
        // min(struct(priority, value)) over non-null values — one hash
        // aggregate for ALL columns at once; no per-column joins, no
        // row explosion beyond |sources| × |entities|.
        val c = Tables.t(s, dir, "customer")
        val crm = c.select(col("c_custkey").as("k"), lit(1L).as("rk"),
          upper(col("c_name")).as("name"),
          when(col("c_custkey") % 3 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")).as("bal"),
          col("c_mktsegment").as("seg"))
        val web = c.select(col("c_custkey").as("k"), lit(2L).as("rk"),
          col("c_name").as("name"),
          col("c_acctbal").as("bal"),
          when(col("c_custkey") % 2 === 0, lit(null).cast("string"))
            .otherwise(col("c_mktsegment")).as("seg"))
        crm.unionByName(web)
          .groupBy("k")
          .agg(
            min(when(col("name").isNotNull, struct(col("rk"), col("name"))))
              .getField("name").as("name"),
            min(when(col("bal").isNotNull, struct(col("rk"), col("bal"))))
              .getField("bal").as("bal"),
            min(when(col("seg").isNotNull, struct(col("rk"), col("seg"))))
              .getField("seg").as("seg"),
            count(lit(1)).as("n_sources"))
          .select(col("k"), col("name"), round(col("bal"), 2).as("bal"),
            col("seg"), col("n_sources"))
          .orderBy("k")
      },
      Some("""WITH crm AS (SELECT c_custkey AS k, 1 AS rk, upper(c_name) AS name,
             |                    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS bal,
             |                    c_mktsegment AS seg
             |             FROM customer),
             |  web AS (SELECT c_custkey AS k, 2 AS rk, c_name AS name, c_acctbal AS bal,
             |                 CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_mktsegment END AS seg
             |          FROM customer),
             |  u AS (SELECT * FROM crm UNION ALL SELECT * FROM web)
             |SELECT k,
             |       arg_min(name, rk) FILTER (name IS NOT NULL) AS name,
             |       round(arg_min(bal, rk) FILTER (bal IS NOT NULL), 2) AS bal,
             |       arg_min(seg, rk) FILTER (seg IS NOT NULL) AS seg,
             |       CAST(count(*) AS BIGINT) AS n_sources
             |FROM u GROUP BY k ORDER BY k""".stripMargin))
  )
}
