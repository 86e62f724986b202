package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus CURATION operators — the keep/drop decisions of a training-data
  * pipeline that sit between raw dedup signals and the export: prefix
  * dedup, cluster-representative selection by quality, deterministic
  * source re-weighting (data mixing), and per-key rate limiting.
  *
  * All four are one-or-two-shuffle plans keyed on stable 64-bit hashes or
  * small composite keys; nothing here widens rows or multiplies them, so
  * each survives a 100 TB corpus with the shuffle the semantics already
  * require and nothing more.
  */
object CurateOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "dedup_url_canonical",
      (s, dir) => {
        // URL-CANONICALIZATION dedup — the web-corpus curation step that
        // collapses crawl variants of one logical page: lowercase the
        // host, strip trailing path slashes, drop the fragment, remove
        // tracking parameters (utm_*/fbclid/gclid), and SORT the
        // surviving query params; then first-crawled-wins per canonical
        // URL. Crawl noise is constructed deterministically from part
        // attributes (host case, param order, tracking params, fragment
        // all vary by p_partkey residues; the logical page id is
        // p_partkey % 100), so every noisy variant must collapse — the
        // oracle re-derives host/path/query with regexes, making this a
        // genuine differential on the canonicalizer, not string
        // round-tripping. Per-row projection + one hash aggregate: the
        // 100 TB plan is the scan plus the groupBy the semantics
        // require.
        val pk = col("p_partkey")
        val url = concat(
          lit("https://"),
          when(pk % 3 === 0, lit("Shop.Example.COM"))
            .otherwise(lit("shop.example.com")),
          lit("/catalog/item"),
          when(pk % 6 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(pk % 2 === 0,
            concat(lit("id="), (pk % 100).cast("string"),
              lit("&lang=en&utm_source=feed"), (pk % 7).cast("string")))
            .otherwise(concat(lit("lang=en&id="), (pk % 100).cast("string"),
              when(pk % 5 === 0,
                concat(lit("&fbclid=x"), (pk % 11).cast("string")))
                .otherwise(lit("")))),
          when(pk % 4 === 0, concat(lit("#sec"), col("p_size").cast("string")))
            .otherwise(lit("")))
        Tables.t(s, dir, "part")
          .select(pk, url.as("url"))
          .select(pk,
            concat(lit("https://"),
              lower(expr("parse_url(url, 'HOST')")),
              regexp_replace(expr("parse_url(url, 'PATH')"), "/+$", ""),
              lit("?"),
              array_join(array_sort(filter(
                split(expr("parse_url(url, 'QUERY')"), "&"),
                p => !p.rlike("^(utm_[^=]*|fbclid|gclid)="))), "&")).as("canon_url"))
          .groupBy("canon_url")
          .agg(min(pk).as("keeper"), count(lit(1)).as("n_variants"))
          .orderBy("canon_url")
      },
      Some("""WITH u AS (SELECT p_partkey,
             |    'https://' ||
             |    CASE WHEN p_partkey % 3 = 0 THEN 'Shop.Example.COM' ELSE 'shop.example.com' END ||
             |    '/catalog/item' || CASE WHEN p_partkey % 6 = 0 THEN '/' ELSE '' END ||
             |    '?' ||
             |    CASE WHEN p_partkey % 2 = 0
             |         THEN 'id=' || (p_partkey % 100) || '&lang=en&utm_source=feed' || (p_partkey % 7)
             |         ELSE 'lang=en&id=' || (p_partkey % 100) ||
             |              CASE WHEN p_partkey % 5 = 0 THEN '&fbclid=x' || (p_partkey % 11) ELSE '' END
             |    END ||
             |    CASE WHEN p_partkey % 4 = 0 THEN '#sec' || p_size ELSE '' END AS url
             |  FROM part),
             | c AS (SELECT p_partkey,
             |          'https://' || lower(regexp_extract(url, '^https://([^/?#]+)', 1)) ||
             |          regexp_replace(regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1), '/+$', '') ||
             |          '?' || array_to_string(list_sort(list_filter(
             |                   string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
             |                   p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)='))), '&') AS canon_url
             |       FROM u)
             |SELECT canon_url, min(p_partkey) AS keeper, count(*) AS n_variants
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "text_prefix_dedup",
      (s, dir) => {
        // PREFIX dedup (RefinedWeb-style): documents that share their
        // first 16 tokens are near-certain near-dups (mirrors, partial
        // re-crawls, truncations) — cheaper than any shingle pass
        // because the key is ONE 64-bit hash per doc, not a gram set.
        // Keep the lowest doc_id per prefix key. At 100 TB this is the
        // exact-dedup plan shape: hash right above the scan, one
        // shuffle of (hash, id) pairs, min-aggregate.
        val toks = TextOps.tokens(col("text"))
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            DedupOps.portableHash(concat_ws(" ", slice(toks, 1, 16)), 0).as("pk"))
          .groupBy("pk")
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
          .select(col("doc_id"), col("n_dups"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     k AS (SELECT doc_id,
             |                  ('0x' || substring(md5('0:' ||
             |                     array_to_string(tk[1:16], ' ')), 1, 8))::BIGINT AS pk
             |           FROM t)
             |SELECT min(doc_id)::BIGINT AS doc_id, count(*)::BIGINT AS n_dups
             |FROM k GROUP BY pk ORDER BY doc_id""".stripMargin)),

    GQuery(
      "dedup_keep_best",
      (s, dir) => {
        // Cluster-representative SELECTION: near-dup clusters (J>=0.5
        // connected components, same pair graph as dedup_clusters) keep
        // their highest-quality member — here max n_chars, ties to the
        // lowest doc_id — instead of the arbitrary min-id. Singleton
        // docs are their own cluster (coalesce to doc_id). This is the
        // keep/drop decision step of corpus dedup: one argmax aggregate
        // per cluster after the CC labels, no extra shuffle beyond the
        // label join.
        val d = Tables.t(s, dir, "documents")
        val labels = DedupOps.connectedComponents(
          DedupOps.jaccardPairs(d, n = 3, minJ = 0.5))
        d.select(col("doc_id"), col("n_chars"))
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .groupBy("cluster")
          .agg(
            max_by(col("doc_id"), struct(col("n_chars"), (-col("doc_id")).as("nd")))
              .as("keep_id"),
            max("n_chars").as("keep_chars"),
            count(lit(1)).as("n_members"))
          .orderBy("cluster")
      },
      Some("""WITH RECURSIVE
             |  t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |        FROM documents),
             |  sh AS (SELECT doc_id,
             |                list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                               for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |  inv AS (SELECT doc_id, unnest(sg) AS g FROM sh),
             |  sz AS (SELECT doc_id, len(sg) AS n_sh FROM sh),
             |  pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |            FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |            GROUP BY 1, 2),
             |  edges AS (SELECT doc_a, doc_b
             |            FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
             |            WHERE inter * 1.0 / (x.n_sh + y.n_sh - inter) >= 0.5),
             |  bidir AS (SELECT doc_a AS a, doc_b AS b FROM edges
             |            UNION SELECT doc_b, doc_a FROM edges),
             |  reach(node, label) AS (
             |    SELECT a, a FROM bidir
             |    UNION
             |    SELECT bd.b, r.label FROM reach r JOIN bidir bd ON bd.a = r.node),
             |  labels AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
             |  all_l AS (SELECT d.doc_id, d.n_chars,
             |                   coalesce(l.cluster, d.doc_id) AS cluster
             |            FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
             |  ranked AS (SELECT cluster, doc_id, n_chars,
             |                    row_number() OVER (PARTITION BY cluster
             |                       ORDER BY n_chars DESC, doc_id) AS rn
             |             FROM all_l)
             |SELECT cluster, max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS keep_id,
             |       max(n_chars)::BIGINT AS keep_chars, count(*)::BIGINT AS n_members
             |FROM ranked GROUP BY cluster ORDER BY cluster""".stripMargin)),

    GQuery(
      "docs_mix_temperature",
      (s, dir) => {
        // TEMPERATURE-SAMPLED MIX ALLOCATION (τ = 0.5): a 40%-of-corpus
        // document budget splits across sources ∝ n_i^τ — the standard
        // upweight-the-tail mix rule for multilingual/multi-source
        // training. Allocation is LARGEST-REMAINDER on EXACT integers:
        // weights are round(sqrt(n_i)·10⁶) (IEEE sqrt and one multiply
        // are correctly rounded, so both engines compute the identical
        // integer), floors are B·w_i ÷ W in BIGINT, and the leftover
        // units go to the largest (remainder, source) ranks — no double
        // accumulates anywhere an engine could order differently, so
        // the per-source allocation is hash-exact. Shape: one source-
        // sized aggregate; everything after runs on |sources| rows (the
        // single-partition window is over 20 rows by design).
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.t(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("w", round(sqrt(col("n_docs")) * 1e6).cast("long"))
        val tot = counts.agg(sum("n_docs").as("total"), sum("w").as("bigw"))
        val staged = counts.crossJoin(broadcast(tot))
          .withColumn("budget", (col("total") * 2L / 5L).cast("long"))
          .withColumn("floor_alloc", expr("budget * w div bigw"))
          .withColumn("rem", (col("budget") * col("w")) % col("bigw"))
        val leftover = staged
          .withColumn("spill", col("budget") - sum("floor_alloc")
            .over(Window.partitionBy("budget")))
          .withColumn("rk", row_number().over(
            Window.orderBy(desc("rem"), asc("source"))))
        leftover
          .select(col("source"), col("n_docs"), col("w").as("weight"),
            (col("floor_alloc") + when(col("rk") <= col("spill"), 1L)
              .otherwise(0L)).as("alloc"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |           FROM documents GROUP BY 1),
             |  w AS (SELECT source, n_docs,
             |               CAST(round(sqrt(n_docs) * 1e6) AS BIGINT) AS w FROM c),
             |  t AS (SELECT sum(n_docs) AS total, sum(w) AS bigw FROM w),
             |  st AS (SELECT source, n_docs, w,
             |                CAST(total * 2 // 5 AS BIGINT) AS budget,
             |                CAST(total * 2 // 5 AS BIGINT) * w // bigw AS fl,
             |                (CAST(total * 2 // 5 AS BIGINT) * w) % bigw AS rem
             |         FROM w, t),
             |  lf AS (SELECT source, n_docs, w, fl,
             |                budget - sum(fl) OVER () AS spill,
             |                row_number() OVER (ORDER BY rem DESC, source) AS rk
             |         FROM st)
             |SELECT source, n_docs, w AS weight,
             |       CAST(fl + CASE WHEN rk <= spill THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |FROM lf ORDER BY source""".stripMargin)),

    GQuery(
      "docs_mix_weighted",
      (s, dir) => {
        // Deterministic DATA MIXING: re-weight sources toward a target
        // mixture by per-source keep-fractions (1, 1/2, 1/4, 1/8 by
        // source index mod 4), decided by an md5 threshold on the
        // content — reproducible across engines, runs, and partitionings
        // (no RNG), and it pushes as a cheap filter right above the
        // scan. The mixing step every multi-source training corpus
        // runs before tokenization.
        val idx = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
        val thr = element_at(
          array(lit(256L), lit(128L), lit(64L), lit(32L)), pmod(idx, lit(4)) + 1)
        val hv = conv(substring(md5(
          concat(col("doc_id").cast("string"), lit(":"), col("text")).cast("binary")),
          1, 2), 16, 10).cast("long")
        Tables.t(s, dir, "documents")
          .withColumn("keep", hv < thr)
          .groupBy("source")
          .agg(count(lit(1)).as("n_in"),
            count(when(col("keep"), 1)).as("n_kept"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*)::BIGINT AS n_in,
             |       count(CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR || ':' || text), 1, 2))::BIGINT
             |                       < CASE regexp_extract(source, 'src(\d+)', 1)::INT % 4
             |                           WHEN 0 THEN 256 WHEN 1 THEN 128
             |                           WHEN 2 THEN 64 ELSE 32 END
             |                  THEN 1 END)::BIGINT AS n_kept
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    GQuery(
      "events_rate_limit",
      (s, dir) => {
        // Per-key RATE LIMITING: keep the first event per (user,
        // 10-minute bucket) — the throttle/sampling shape of event
        // ingestion (dedup by time quantum rather than by version).
        // One window pass over one shuffle; the bucket key is derived
        // arithmetic, so at 100 TB this partitions by (user, bucket)
        // with no skew beyond the hottest user-bucket.
        val e = Tables.t(s, dir, "events")
          .withColumn("bucket",
            floor(col("ts").cast("timestamp").cast("double") / 600).cast("long"))
        val w = Window.partitionBy("user_id", "bucket")
          .orderBy(col("ts"), col("event_id"))
        e.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("user_id"), col("bucket"), col("event_id"))
          .orderBy("user_id", "bucket")
      },
      Some("""WITH b AS (SELECT user_id, event_id, ts,
             |                  floor(epoch(ts::TIMESTAMP) / 600)::BIGINT AS bucket
             |           FROM events),
             |     r AS (SELECT user_id, bucket, event_id,
             |                  row_number() OVER (PARTITION BY user_id, bucket
             |                     ORDER BY ts, event_id) AS rn
             |           FROM b)
             |SELECT user_id, bucket, event_id
             |FROM r WHERE rn = 1 ORDER BY user_id, bucket""".stripMargin)),

    GQuery(
      "text_normalize_unicode",
      (s, dir) => {
        // UNICODE canonicalization gate (custom codegen Expression
        // functions/NormalizeText): the same logical word is planted in
        // both precomposed (U+00E9) and combining-mark (e + U+0301)
        // encodings by doc_id residue; NFC must COLLAPSE the two
        // variants (one output row where the raw strings were two), and
        // accent folding must further map them onto the plain-ASCII
        // form. The oracle recomputes with DuckDB's independent
        // utf8proc-based nfc_normalize/strip_accents, so the hash match
        // is a genuine cross-library differential on Unicode semantics,
        // not a round trip. Map-only + one tiny aggregate; the
        // expression's ASCII fast path (one byte==char count compare,
        // no Normalizer call) is what a 100 TB mostly-ASCII corpus
        // actually executes.
        val d = col("doc_id")
        val raw = when(d % 4 === 0, lit("caf\u00e9")) // precomposed U+00E9
          .when(d % 4 === 1, lit("cafe\u0301")) // e + combining acute U+0301
          .when(d % 4 === 2, lit("\u00fcber"))
          .otherwise(lit("na\u00efve"))
        Tables.t(s, dir, "documents")
          .select(raw.as("w"))
          .select(expr("normalize_text(w, false)").as("nfc_form"),
            expr("normalize_text(w, true)").as("folded"))
          .groupBy("nfc_form", "folded")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("nfc_form", "folded")
      },
      Some("""WITH w AS (SELECT CASE WHEN doc_id % 4 = 0 THEN 'café'
             |                       WHEN doc_id % 4 = 1 THEN 'cafe' || chr(769)
             |                       WHEN doc_id % 4 = 2 THEN 'über'
             |                       ELSE 'naïve' END AS w
             |  FROM documents)
             |SELECT nfc_normalize(w) AS nfc_form,
             |       strip_accents(nfc_normalize(w)) AS folded,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    GQuery(
      "split_cluster_aware",
      (s, dir) => {
        // CLUSTER-AWARE train/valid/test split — the leakage guard a
        // training pipeline needs: a per-DOCUMENT hash split would put
        // near-duplicates of one page on both sides of the train/test
        // boundary, silently inflating eval scores. Here the split unit
        // is the near-dup CLUSTER (connected components over the J>=0.5
        // pair graph, the verified dedup_clusters machinery; singleton
        // docs are their own cluster), and the md5-digit assignment
        // (80/10/10) hashes the CLUSTER id, so every member of a
        // cluster lands in the same split by construction. The oracle
        // replays clusters (recursive CTE) and the assignment
        // arithmetic; the invariant "same cluster => same split" is
        // structural in both engines. Scale: pair graph + CC are the
        // already-audited shapes; the assignment adds one map-side
        // projection — nothing new shuffles.
        val d = Tables.t(s, dir, "documents")
        val comp = DedupOps.connectedComponents(
          DedupOps.jaccardPairs(d, n = 3, minJ = 0.5).select("doc_a", "doc_b"))
        val labeled = d.select(col("doc_id"))
          .join(comp, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster"), col("doc_id")).as("cluster"))
        labeled
          .withColumn("h",
            conv(substring(md5(concat(lit("split:"), col("cluster").cast("string"))
              .cast("binary")), 1, 2), 16, 10).cast("long") % 10)
          .select(col("doc_id"), col("cluster"),
            when(col("h") < 8, "train").when(col("h") === 8, "valid")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |  t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |        FROM documents),
             |  sh AS (SELECT doc_id,
             |                list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                               for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |  inv AS (SELECT doc_id, unnest(sg) AS g FROM sh),
             |  sz AS (SELECT doc_id, len(sg) AS n_sh FROM sh),
             |  pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |            FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |            GROUP BY 1, 2),
             |  edges AS (SELECT doc_a, doc_b
             |            FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
             |            WHERE inter * 1.0 / (x.n_sh + y.n_sh - inter) >= 0.5),
             |  bidir AS (SELECT doc_a AS a, doc_b AS b FROM edges
             |            UNION SELECT doc_b, doc_a FROM edges),
             |  reach(node, label) AS (
             |    SELECT a, a FROM bidir
             |    UNION
             |    SELECT bd.b, r.label FROM reach r JOIN bidir bd ON bd.a = r.node),
             |  comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
             |  labeled AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
             |              FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
             |  assigned AS (SELECT doc_id, cluster,
             |                      ('0x' || substring(md5('split:' || cluster), 1, 2))::BIGINT % 10 AS h
             |               FROM labeled)
             |SELECT doc_id, cluster,
             |       CASE WHEN h < 8 THEN 'train' WHEN h = 8 THEN 'valid'
             |            ELSE 'test' END AS split
             |FROM assigned ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_mix_budget",
      (s, dir) => {
        // BUDGET-CONSTRAINED DATA MIXING (waterfilling): fill a global
        // token budget B (here 60% of the corpus) from sources in
        // proportion to priority weights, capped by each source's
        // availability — the allocator behind "train on 1B tokens with
        // this source mix". Closed-form waterfilling instead of
        // iteration: sort sources by saturation ratio avail/w; a source
        // is SATURATED (taken whole) iff its ratio is at or below the
        // water level implied by the budget remaining after all earlier
        // (smaller-ratio) sources — the flags form a prefix, so one
        // window pass over |sources| rows decides them, and unsaturated
        // sources share the remainder in weight proportion. ALL
        // arithmetic is int64 (cross-multiplied comparisons, floor
        // division), so the oracle replays it bit-exactly. Scale: one
        // corpus scan + one |sources|-row aggregate; the window runs
        // over rows numbered in sources, not documents.
        val per = Tables.t(s, dir, "documents")
          .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("tk"))
          .groupBy("source")
          .agg(sum(col("tk")).as("avail"))
          .withColumn("w", (length(col("source")) % 3 + 1).cast("long"))
        val totals = per.agg(sum(col("avail")).as("total_avail"),
          sum(col("w")).as("wtot"))
        val ordered = per.crossJoin(broadcast(totals))
          .withColumn("budget", expr("total_avail * 6 div 10"))
          .withColumn("pa",
            coalesce(sum(col("avail")).over(Window.orderBy(
              (col("avail") * lit(1.0) / col("w")).asc, col("source").asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("pw",
            coalesce(sum(col("w")).over(Window.orderBy(
              (col("avail") * lit(1.0) / col("w")).asc, col("source").asc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("sat",
            col("avail") * (col("wtot") - col("pw")) <=
              (col("budget") - col("pa")) * col("w"))
        val satTotals = ordered.agg(
          sum(when(col("sat"), col("avail")).otherwise(0L)).as("cm"),
          sum(when(col("sat"), col("w")).otherwise(0L)).as("wm"))
        ordered.crossJoin(broadcast(satTotals))
          .withColumn("alloc",
            when(col("sat"), col("avail")).otherwise(
              when(col("wtot") === col("wm"), lit(0L)).otherwise(
                greatest(lit(0L),
                  expr("(budget - cm) * w div (wtot - wm)")))))
          .select(col("source"), col("avail"), col("w"), col("sat"),
            col("alloc"), expr("alloc * 1000 div avail").as("keep_permille"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
             |                    CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS avail,
             |                    CAST(length(source) % 3 + 1 AS BIGINT) AS w
             |             FROM documents GROUP BY source),
             |     tot AS (SELECT CAST(sum(avail) AS BIGINT) AS total_avail,
             |                    CAST(sum(w) AS BIGINT) AS wtot FROM per),
             |     ordered AS (
             |       SELECT source, avail, w, total_avail, wtot,
             |              total_avail * 6 // 10 AS budget,
             |              CAST(coalesce(sum(avail) OVER (ORDER BY avail * 1.0 / w, source
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pa,
             |              CAST(coalesce(sum(w) OVER (ORDER BY avail * 1.0 / w, source
             |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pw
             |       FROM per, tot),
             |     flagged AS (SELECT *,
             |                        avail * (wtot - pw) <= (budget - pa) * w AS sat
             |                 FROM ordered),
             |     sattot AS (SELECT CAST(coalesce(sum(CASE WHEN sat THEN avail END), 0) AS BIGINT) AS cm,
             |                       CAST(coalesce(sum(CASE WHEN sat THEN w END), 0) AS BIGINT) AS wm
             |                FROM flagged)
             |SELECT source, avail, w, sat,
             |       CAST(CASE WHEN sat THEN avail
             |                 WHEN wtot = wm THEN 0
             |                 ELSE greatest(0, (budget - cm) * w // (wtot - wm))
             |            END AS BIGINT) AS alloc,
             |       CAST(CASE WHEN sat THEN avail
             |                 WHEN wtot = wm THEN 0
             |                 ELSE greatest(0, (budget - cm) * w // (wtot - wm))
             |            END * 1000 // avail AS BIGINT) AS keep_permille
             |FROM flagged, sattot ORDER BY source""".stripMargin)),

    GQuery(
      "docs_keyset_page",
      (s, dir) => {
        // KEYSET (cursor) PAGINATION — the scalable form of paging an
        // export: page 3 (rows 41-60 under the total order n_chars
        // DESC, doc_id ASC) fetched NOT by OFFSET (which scans and
        // discards 40 rows — O(pages²) over a full export, and
        // unstable under concurrent inserts) but by the keyset
        // predicate (n_chars, doc_id) strictly-after the page-2 cursor
        // row. With a layout sorted on the export order the predicate
        // prunes to the tail; the plan is two TakeOrdered heaps either
        // way, never a global sort. The oracle computes the same page
        // by row_number, so the differential IS the
        // offset-equals-keyset equivalence proof.
        val ordered = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val cursor = ordered
          .orderBy(desc("n_chars"), asc("doc_id")).limit(40)
          .orderBy(asc("n_chars"), desc("doc_id")).limit(1)
          .select(col("n_chars").as("c_n"), col("doc_id").as("c_id"))
        ordered.crossJoin(broadcast(cursor))
          .where(col("n_chars") < col("c_n") ||
            (col("n_chars") === col("c_n") && col("doc_id") > col("c_id")))
          .orderBy(desc("n_chars"), asc("doc_id")).limit(20)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(desc("n_chars"), asc("doc_id"))
      },
      Some("""SELECT doc_id, n_chars FROM (
             |  SELECT doc_id, n_chars,
             |         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents)
             |WHERE rn BETWEEN 41 AND 60
             |ORDER BY n_chars DESC, doc_id""".stripMargin)),

    GQuery(
      "privacy_k_anonymity",
      (s, dir) => {
        // K-ANONYMITY / L-DIVERSITY AUDIT — the privacy gate before a
        // dataset leaves the pipeline: under the quasi-identifier set
        // (nation, account-balance band), how small is the smallest
        // group (k), how undiverse is the most homogeneous group's
        // sensitive attribute (l, here market segment), and how many
        // groups violate k>=5. One hash aggregate over the table + a
        // grand summary; at scale this is exactly a groupBy-count, and
        // the audit failing means generalize the QI bands, not ship.
        val qi = Tables.t(s, dir, "customer")
          .select(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
            col("c_mktsegment"))
          .groupBy("c_nationkey", "bal_band")
          .agg(count(lit(1)).as("grp"),
            count_distinct(col("c_mktsegment")).as("l_div"))
        qi.agg(
            min(col("grp")).as("k_anonymity"),
            min(col("l_div")).as("l_diversity"),
            sum(when(col("grp") < 5, 1L).otherwise(0L)).as("n_groups_below_k5"),
            count(lit(1)).as("n_groups"))
          .select(col("k_anonymity"), col("l_diversity"),
            col("n_groups_below_k5"), col("n_groups"))
      },
      Some("""WITH g AS (SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |                  CAST(count(*) AS BIGINT) AS grp,
             |                  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div
             |           FROM customer GROUP BY 1, 2)
             |SELECT CAST(min(grp) AS BIGINT) AS k_anonymity,
             |       CAST(min(l_div) AS BIGINT) AS l_diversity,
             |       CAST(sum(CASE WHEN grp < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k5,
             |       CAST(count(*) AS BIGINT) AS n_groups
             |FROM g""".stripMargin)),

    GQuery(
      "privacy_t_closeness",
      (s, dir) => {
        // T-CLOSENESS AUDIT — the stricter sibling of the k/l gate
        // above: per QI group (nation, balance band), the total-
        // variation distance between the group's sensitive-attribute
        // (market segment) distribution and the GLOBAL one. Segments
        // absent from a group still contribute their global mass, via
        // the identity  TV = ½·(1 + Σ_present(|p_g − p| − p))  — so the
        // per-cell frame never needs a dense group×segment expand.
        // Shape: one cell aggregate (|groups × present segments| rows),
        // the 5-row global distribution broadcast onto it, one group
        // rollup. tv is rounded to 6dp BEFORE max/threshold so cross-
        // engine summation-order noise (≤5 double terms) cancels.
        val c = Tables.t(s, dir, "customer")
          .select(col("c_nationkey").as("nk"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
            col("c_mktsegment").as("seg"))
        val cells = c.groupBy("nk", "bal_band", "seg")
          .agg(count(lit(1)).as("cnt"))
        val gseg = c.groupBy("seg").agg(count(lit(1)).as("gcnt"))
        val n = c.count()
        val tv = cells
          .withColumn("grp",
            sum("cnt").over(Window.partitionBy("nk", "bal_band")))
          .join(broadcast(gseg), "seg")
          .groupBy("nk", "bal_band")
          .agg(sum(abs(col("cnt") / col("grp") - col("gcnt") / lit(n.toDouble)) -
            col("gcnt") / lit(n.toDouble)).as("delta"))
          .select(col("nk"), col("bal_band"),
            round((lit(1.0) + col("delta")) / 2, 6).as("tv"))
        tv.agg(max("tv").as("max_t"),
            sum(when(col("tv") > 0.2, 1L).otherwise(0L)).as("n_groups_above_t02"),
            count(lit(1)).as("n_groups"))
          .select(col("max_t"), col("n_groups_above_t02"), col("n_groups"))
      },
      Some("""WITH c AS (SELECT c_nationkey AS nk,
             |                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             |                  c_mktsegment AS seg
             |           FROM customer),
             |  cells AS (SELECT nk, bal_band, seg, CAST(count(*) AS BIGINT) AS cnt
             |            FROM c GROUP BY 1, 2, 3),
             |  gseg AS (SELECT seg, CAST(count(*) AS BIGINT) AS gcnt FROM c GROUP BY 1),
             |  n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM c),
             |  wg AS (SELECT nk, bal_band, seg, cnt,
             |                sum(cnt) OVER (PARTITION BY nk, bal_band) AS grp
             |         FROM cells),
             |  tvs AS (SELECT nk, bal_band,
             |                 round((1.0 + sum(abs(cnt / grp - gcnt / n.n)
             |                                  - gcnt / n.n)) / 2, 6) AS tv
             |          FROM wg JOIN gseg USING (seg), n
             |          GROUP BY nk, bal_band, n.n)
             |SELECT max(tv) AS max_t,
             |       CAST(sum(CASE WHEN tv > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_above_t02,
             |       CAST(count(*) AS BIGINT) AS n_groups
             |FROM tvs""".stripMargin)),

    GQuery(
      "privacy_dp_geometric",
      (s, dir) => {
        // DIFFERENTIALLY-PRIVATE HISTOGRAM via the (two-sided) GEOMETRIC
        // MECHANISM, made oracle-deterministic: the per-cell noise draw
        // is inverse-CDF sampling where (a) the uniform comes from the
        // portable md5 hash of the cell key — identical in both engines
        // — and (b) the CDF thresholds are computed ONCE at plan-build
        // time and inlined as the same literal doubles into the Spark
        // plan AND the generated oracle SQL (the SimilarityOps.srpSigns
        // discipline). ε=0.5 (α=e^-½), support clamped to ±15 (tail
        // mass ~1e-4 folded into +15). Scale: pure map-side over an
        // already-aggregated |cells| frame; the release never touches
        // row-level data twice.
        val alpha = math.exp(-0.5)
        val p0 = (1 - alpha) / (1 + alpha)
        val ks = (-15 to 15).toSeq
        val cdf = ks.map(k => p0 * math.pow(alpha, math.abs(k)))
          .scanLeft(0.0)(_ + _).tail
        val g = Tables.t(s, dir, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n_true"))
          .withColumn("u",
            DedupOps.portableHash(
              concat(col("event_type"), lit("|"), col("day")), 7) /
              lit(4294967296.0))
        val noise = ks.zip(cdf).reverse.foldLeft(lit(15L)) {
          case (els, (k, t)) =>
            when(col("u") < lit(t), lit(k.toLong)).otherwise(els)
        }
        g.withColumn("noise", noise)
          .select(col("event_type"), col("day"), col("n_true"),
            col("noise"), (col("n_true") + col("noise")).as("n_noisy"))
          .orderBy("event_type", "day")
      },
      Some {
        val alpha = math.exp(-0.5)
        val p0 = (1 - alpha) / (1 + alpha)
        val ks = (-15 to 15).toSeq
        val cdf = ks.map(k => p0 * math.pow(alpha, math.abs(k)))
          .scanLeft(0.0)(_ + _).tail
        val cases = ks.zip(cdf)
          .map { case (k, t) => s"WHEN u < $t THEN $k" }
          .mkString(" ")
        s"""WITH g AS (SELECT event_type, strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
           |                  CAST(count(*) AS BIGINT) AS n_true
           |           FROM events GROUP BY 1, 2),
           |  u AS (SELECT *,
           |               ('0x' || substring(md5('7:' || event_type || '|' || day), 1, 8))::BIGINT
           |                 / 4294967296.0 AS u
           |        FROM g),
           |  n AS (SELECT *, CAST(CASE $cases ELSE 15 END AS BIGINT) AS noise FROM u)
           |SELECT event_type, day, n_true, noise, n_true + noise AS n_noisy
           |FROM n ORDER BY event_type, day""".stripMargin
      }),

    GQuery(
      "docs_rendezvous_shard",
      (s, dir) => {
        // RENDEZVOUS (highest-random-weight) SHARDING — the elastic
        // alternative to mod-hashing (`docs_shuffle_shard`): each doc
        // goes to the shard with the max portable hash(doc, shard).
        // Growing 8 → 9 shards must move ONLY docs whose new argmax IS
        // the new shard — n_moved_in is forced to 0 for every old shard
        // and equals n9 on shard 8, and the oracle asserts exactly
        // that (mod-hashing would reshuffle ~8/9 of the corpus). Ties
        // break on shard index IN the comparison tuple, so both
        // engines argmax identically. Shape: per-doc argmax over an
        // inline 9-element array — no explode, no shuffle before the
        // 9-row aggregate.
        val scores = array((0 until 9).map(i =>
          struct(
            DedupOps.portableHash(
              concat(col("doc_id").cast("string"), lit(":"), lit(i.toString)), 11)
              .as("h"),
            lit(i.toLong).as("i"))): _*)
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), scores.as("sc"))
          .select(col("doc_id"),
            array_max(slice(col("sc"), 1, 8)).getField("i").as("shard8"),
            array_max(col("sc")).getField("i").as("shard9"))
        val n8 = d.groupBy(col("shard8").as("shard"))
          .agg(count(lit(1)).as("n8"))
        val n9 = d.groupBy(col("shard9").as("shard"))
          .agg(count(lit(1)).as("n9"),
            sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
              .as("n_moved_in"))
        n8.join(n9, Seq("shard"), "full_outer")
          .select(col("shard"),
            coalesce(col("n8"), lit(0L)).as("n8"),
            coalesce(col("n9"), lit(0L)).as("n9"),
            coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
          .orderBy("shard")
      },
      Some("""WITH s AS (SELECT doc_id, i,
             |                  ('0x' || substring(md5('11:' || doc_id || ':' || i), 1, 8))::BIGINT AS h
             |           FROM documents, range(9) t(i)),
             |  a AS (SELECT doc_id,
             |               arg_max(i, h * 16 + i) FILTER (i < 8) AS shard8,
             |               arg_max(i, h * 16 + i) AS shard9
             |        FROM s GROUP BY 1),
             |  n8 AS (SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS n8 FROM a GROUP BY 1),
             |  n9 AS (SELECT shard9 AS shard, CAST(count(*) AS BIGINT) AS n9,
             |                CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
             |         FROM a GROUP BY 1)
             |SELECT shard, coalesce(n8, 0) AS n8, coalesce(n9, 0) AS n9,
             |       coalesce(n_moved_in, 0) AS n_moved_in
             |FROM n8 FULL JOIN n9 USING (shard)
             |ORDER BY shard""".stripMargin)),

    GQuery(
      "docs_curriculum_schedule",
      (s, dir) => {
        // CURRICULUM ORDERING: bucket documents into difficulty
        // quartiles (length as the difficulty proxy, doc_id tiebreak
        // so the cut is deterministic), then emit the round-robin
        // interleave position pos = (rank_in_bucket − 1)·4 + bucket —
        // every training window of 4 consecutive positions sees one
        // doc per difficulty tier. The audit output proves the
        // stratification: per bucket, the positions occupy disjoint
        // residues with identical spread. Two windows over the
        // |docs|-sized frame (range-partitioned sorts at scale — the
        // raw corpus is never wider than (doc_id, difficulty) here;
        // the schedule ships as a doc_id→pos map, not moved data).
        import org.apache.spark.sql.expressions.Window
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val b = d.withColumn("bucket",
          ntile(4).over(Window.orderBy(col("n_chars"), col("doc_id")))
            .cast("long"))
        val sched = b.withColumn("pos",
          (row_number().over(Window.partitionBy("bucket")
            .orderBy(col("n_chars"), col("doc_id"))).cast("long") - 1)
            * 4 + col("bucket"))
        sched.groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("pos").as("min_pos"), max("pos").as("max_pos"),
            round(avg(col("pos")), 4).as("avg_pos"),
            round(avg(col("n_chars")), 2).as("avg_chars"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (SELECT doc_id, n_chars,
             |                  CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
             |           FROM documents),
             | sched AS (SELECT bucket, n_chars,
             |                  (CAST(row_number() OVER (PARTITION BY bucket
             |                     ORDER BY n_chars, doc_id) AS BIGINT) - 1) * 4 + bucket AS pos
             |           FROM b)
             |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             |       CAST(min(pos) AS BIGINT) AS min_pos,
             |       CAST(max(pos) AS BIGINT) AS max_pos,
             |       round(avg(pos), 4) AS avg_pos,
             |       round(avg(n_chars), 2) AS avg_chars
             |FROM sched GROUP BY bucket ORDER BY bucket""".stripMargin))
  )
}
