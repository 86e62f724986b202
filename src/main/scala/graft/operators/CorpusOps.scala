package graft.operators

import graft.{GQuery, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a large-scale training-data pipeline
  * (SURVEY.md §2B extensions): repetition metrics and composite quality
  * rules (the Gopher-rule family), cross-document n-gram span dedup (the
  * exact-substring-dedup primitive), TF-IDF term scoring, corpus heavy
  * hitters, PII redaction, and length-percentile banding.
  *
  * Scale design notes are per-query; the common theme is: explode →
  * two-level hash aggregate (partial map-side combine bounds every
  * exchange by |distinct keys| per task, not |rows|), and scalar corpus
  * statistics ride along as broadcast singletons instead of driver-side
  * collects.
  */
object CorpusOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  private val stopList = TextOps.stopwords.map("'" + _ + "'").mkString(",")

  /** Count-Min-Sketch bigram frequency estimates (term, est_cnt): the
    * sketch IS a DataFrame — d×w counter cells built by one hash
    * aggregate over (row, bucket) keys, probed by min-over-rows. The
    * sketch stays 4×256 cells regardless of corpus size: this is the
    * production path when the vocabulary itself doesn't fit. Estimates
    * are one-sided (est >= true count, by construction). Spark's
    * built-in count_min_sketch agg packs the same structure into an
    * opaque binary; the relational form keeps it mergeable/probe-able
    * with plain joins. `terms_cms_topk` registers the agreement
    * harness; CorpusOpsSpec gates the overcount bound.
    */
  def cmsBigramEstimates(d: DataFrame): DataFrame = {
    val dRows = 4
    val w = 256
    def cells(term: org.apache.spark.sql.Column) =
      explode(array((0 until dRows).map(i => struct(lit(i).as("r"),
        pmod(xxhash64(term, lit(i)), lit(w)).as("b"))): _*)).as("rb")
    val toks = d
      .select(explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("term"))
    val sketch = toks.select(cells(col("term")))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val probes = toks.distinct()
      .select(col("term"), cells(col("term")))
      .select(col("term"), col("rb.r").as("r"), col("rb.b").as("b"))
    probes.join(sketch, Seq("r", "b"))
      .groupBy("term").agg(min("c").as("est_cnt"))
  }

  /** Exact-substring span removal over `d` (doc_id, text): tokens
    * covered by any word-`n`-gram occurring in >= 2 distinct docs are
    * deleted; returns (doc_id, n_kept, clean_text) for EVERY input doc
    * (fully-duplicated docs come back with n_kept = 0, clean_text = "").
    * See `dedup_span_removal` for the per-stage scale notes.
    */
  def spanRemoved(d: DataFrame, n: Int): DataFrame = {
    val gramStarts = d.select(col("doc_id"),
      expr(s"pos_word_grams(text, $n)").as(Seq("start", "gram")))
    val dupGrams = gramStarts.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2).select("gram")
    val covered = gramStarts.join(broadcast(dupGrams), "gram")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("p"))
      .distinct()
    val toks = d.select(col("doc_id"),
      posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
    val kept = toks.join(covered,
        toks("doc_id") === covered("doc_id") && toks("pos") === covered("p"),
        "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
    d.select(col("doc_id")).join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "text_repetition",
      (s, dir) => {
        // Gopher-style repetition metrics: duplicate-bigram fraction and
        // top-bigram share per document. Two-level aggregate: per
        // (doc, bigram) counts, then per-doc rollup — both hash
        // aggregates with map-side partials, so the shuffle carries at
        // most |distinct bigrams per doc| rows per document.
        val b = docs(s, dir).select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("bg"))
        b.groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_bigrams"),
            count(lit(1)).as("n_distinct"),
            max("cnt").as("max_cnt"))
          .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
            round(lit(1.0) - col("n_distinct") / col("n_bigrams"), 4).as("dup_frac"),
            round(col("max_cnt") / col("n_bigrams"), 4).as("top_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     b AS (SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS bg
             |           FROM t WHERE len(tk) >= 2),
             |     c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2)
             |SELECT doc_id,
             |       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
             |       count(*) AS n_distinct,
             |       round(1.0 - count(*) * 1.0 / sum(cnt), 4) AS dup_frac,
             |       round(max(cnt) * 1.0 / sum(cnt), 4) AS top_frac
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_gopher_rules",
      (s, dir) => {
        // Composite document-quality gate (Gopher-rule family): token
        // count bounds, mean word length bounds, minimum stopword hits,
        // symbol-ratio ceiling → keep/drop. Pure per-row arithmetic —
        // fully codegen'd, no shuffle, embarrassingly parallel at 100 TB.
        val toks = TextOps.tokens(col("text"))
        val stopArr = array(TextOps.stopwords.map(lit): _*)
        docs(s, dir)
          .select(col("doc_id"), col("text"), toks.as("t"))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            (size(col("t")).between(20, 400)).cast("int").as("wc_ok"),
            (aggregate(col("t"), lit(0.0), (acc, x) => acc + length(x)) / size(col("t")))
              .between(3.0, 10.0).cast("int").as("mwl_ok"),
            (size(filter(col("t"), x => array_contains(stopArr, x))) >= 2)
              .cast("int").as("stop_ok"),
            (length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
              length(col("text")) <= 0.1).cast("int").as("sym_ok"))
          .withColumn("keep",
            (col("wc_ok") * col("mwl_ok") * col("stop_ok") * col("sym_ok")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, text,
              |                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
              |           FROM documents)
              |SELECT doc_id,
              |       CAST(len(tk) AS BIGINT) AS n_tokens,
              |       CAST(len(tk) BETWEEN 20 AND 400 AS INT) AS wc_ok,
              |       CAST(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk)
              |            BETWEEN 3.0 AND 10.0 AS INT) AS mwl_ok,
              |       CAST(len(list_filter(tk, x -> x IN ($stopList))) >= 2 AS INT) AS stop_ok,
              |       CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
              |            / length(text) <= 0.1 AS INT) AS sym_ok,
              |       CAST(len(tk) BETWEEN 20 AND 400 AS INT)
              |         * CAST(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk)
              |                BETWEEN 3.0 AND 10.0 AS INT)
              |         * CAST(len(list_filter(tk, x -> x IN ($stopList))) >= 2 AS INT)
              |         * CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
              |                / length(text) <= 0.1 AS INT) AS keep
              |FROM t ORDER BY doc_id""".stripMargin)),

    GQuery(
      "dedup_common_ngrams",
      (s, dir) => {
        // Exact-substring-dedup primitive (the Lee-et-al. training-data
        // dedup family): word 8-gram spans occurring in >= 2 distinct
        // documents, with corpus occurrence counts. Inverted gram index →
        // one hash aggregate; count(distinct doc_id) expands to a
        // two-level aggregate under the hood. At 100 TB the gram STRING
        // would be replaced by its 64-bit hash as the group key (see
        // WordGramHashes) — strings are kept here so the result is
        // human-auditable and oracle-checkable.
        docs(s, dir)
          .select(col("doc_id"),
            explode(TextOps.ngrams(TextOps.tokens(col("text")), 8)).as("gram"))
          .groupBy("gram")
          .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
          .where(col("n_docs") >= 2)
          .orderBy("gram")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     g AS (SELECT doc_id, unnest([array_to_string(tk[i:i+7], ' ')
             |                                  for i in range(1, len(tk) - 6)]) AS gram
             |           FROM t WHERE len(tk) >= 8)
             |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
             |FROM g GROUP BY gram HAVING n_docs >= 2 ORDER BY gram""".stripMargin)),

    GQuery(
      "decontaminate_ngrams",
      (s, dir) => {
        // Benchmark DECONTAMINATION (the eval-overlap gate every training
        // pipeline needs): training docs sharing any word-4-gram with the
        // eval set (here: doc_id % 20 == 0 stands in for the benchmark),
        // with the count of shared distinct grams. The eval gram set is
        // tiny relative to the corpus → BROADCAST to the training scan;
        // gram identity travels as the one-pass WordGramHashes 64-bit
        // kernel hash, never the string (the oracle joins on the string
        // grams — hash-join ≡ string-join absent collisions, same
        // argument as dedup_ngram_jaccard).
        val inv = docs(s, dir).select(col("doc_id"),
          explode(graft.functions.WordGramHashes.word_gram_hashes("text", 4)).as("g"))
        val evalGrams = inv.where(col("doc_id") % 20 === 0)
          .select("g").distinct()
        inv.where(col("doc_id") % 20 =!= 0)
          .join(broadcast(evalGrams), "g")
          .groupBy("doc_id")
          .agg(countDistinct("g").as("n_shared"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     g AS (SELECT doc_id,
             |                  unnest(list_distinct([array_to_string(tk[i:i+3], ' ')
             |                                        for i in range(1, len(tk) - 2)])) AS gram
             |           FROM t WHERE len(tk) >= 4),
             |     ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
             |SELECT doc_id, count(DISTINCT gram) AS n_shared
             |FROM g JOIN ev USING (gram)
             |WHERE doc_id % 20 <> 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GQuery(
      "decontaminate_bloom",
      (s, dir) => {
        // Bloom-PREFILTERED decontamination — same answer as
        // decontaminate_ngrams (the oracle IS the exact form), but the
        // training-side gram stream passes a Bloom filter built from the
        // eval grams BEFORE the broadcast-join verify. This is the shape
        // that matters at 100 TB: the bloom bits (~1.2 MB per 1M grams
        // at 1% fpp) ride the closure to every task and discard ~99% of
        // the training gram stream before any join; false positives are
        // removed by the exact join after, so the result is provably
        // identical. (Spark's own runtime-filter rewrite injects exactly
        // this under joins; here it's the explicit library form.)
        val inv = docs(s, dir).select(col("doc_id"),
          explode(graft.functions.WordGramHashes.word_gram_hashes("text", 4)).as("g"))
        val evalGrams = inv.where(col("doc_id") % 20 === 0)
          .select("g").distinct().persist()
        // Size the filter from the data (2x headroom) — a fixed capacity
        // saturates at larger scale factors, degrading fpp toward 1 and
        // turning the prefilter into a pass-through. The persist spans
        // the TWO build-time actions (count, bloomFilter) and is
        // released before returning: leaving it cached would leak
        // executor storage for the session lifetime (hundreds of
        // queries share one session in the registry sweeps), and the
        // one lazy use left — the broadcast build side — is a single
        // recompute of the small eval-gram set at execution.
        val nEval = evalGrams.count()
        val bf = evalGrams.stat.bloomFilter("g", math.max(2L * nEval, 1024L), 0.01)
        evalGrams.unpersist(blocking = false)
        // asNondeterministic stops constraint inference from copying the
        // probe onto the eval side (grams there are all present by
        // construction — a pure-overhead filter in the physical plan).
        val mightContain = udf((h: Long) => bf.mightContainLong(h)).asNondeterministic()
        inv.where(col("doc_id") % 20 =!= 0)
          .where(mightContain(col("g")))
          .join(broadcast(evalGrams), "g")
          .groupBy("doc_id")
          .agg(countDistinct("g").as("n_shared"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     g AS (SELECT doc_id,
             |                  unnest(list_distinct([array_to_string(tk[i:i+3], ' ')
             |                                        for i in range(1, len(tk) - 2)])) AS gram
             |           FROM t WHERE len(tk) >= 4),
             |     ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
             |SELECT doc_id, count(DISTINCT gram) AS n_shared
             |FROM g JOIN ev USING (gram)
             |WHERE doc_id % 20 <> 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_chunk_overlap",
      (s, dir) => {
        // Context-window CHUNKING with overlap (window 32 tokens, stride
        // 24): the training-data op that slices documents into
        // model-ready windows, keeping 8 tokens of overlap so no span is
        // split across a boundary without context. Start positions come
        // from sequence(0, n-1, stride) exploded per row — pure per-row
        // array ops, a map-only stage at 100 TB (the only shuffle is the
        // presentation ORDER BY).
        val W = 32
        val S = 24
        docs(s, dir)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
          .where(size(col("tk")) > 0)
          .select(col("doc_id"), col("tk"),
            explode(expr(s"sequence(0, size(tk) - 1, $S)")).as("st"))
          .select(col("doc_id"),
            (col("st") / S).cast("long").as("chunk_id"),
            col("st").cast("long").as("start_tok"),
            size(expr(s"slice(tk, st + 1, $W)")).cast("long").as("n_tok"),
            md5(array_join(expr(s"slice(tk, st + 1, $W)"), " ")
              .cast("binary")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     c AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS st
             |           FROM t WHERE len(tk) > 0)
             |SELECT doc_id,
             |       CAST(st // 24 AS BIGINT) AS chunk_id,
             |       CAST(st AS BIGINT) AS start_tok,
             |       CAST(len(tk[st + 1 : st + 32]) AS BIGINT) AS n_tok,
             |       md5(array_to_string(tk[st + 1 : st + 32], ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    GQuery(
      "dedup_span_removal",
      (s, dir) => {
        // EXACT-SUBSTRING SPAN REMOVAL (the Lee-et-al. transform: delete
        // the duplicated span bytes, keep the rest of the document —
        // stronger than whole-doc dedup, the form production corpora
        // actually ship). A token position is removed iff it is covered
        // by some word-8-gram occurring in >= 2 distinct docs.
        // Pipeline: gram starts from the PosWordGrams generator (UDTF,
        // no per-row gram array) → cross-doc duplicate grams (broadcast:
        // the duplicate-gram set is tiny relative to the corpus) →
        // covered positions via sequence-explode → anti join back onto
        // the token stream → re-assemble per doc. At 100 TB every join
        // here keys on (doc_id, pos) or a broadcast gram set — nothing
        // quadratic, and the only wide exchange is the per-doc
        // re-assembly the transform inherently needs.
        spanRemoved(docs(s, dir), n = 8).orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  g AS (SELECT doc_id, start, gram FROM (
             |          SELECT doc_id, unnest([{'start': i, 'gram': array_to_string(tk[i:i+7], ' ')}
             |                                 for i in range(1, len(tk) - 6)], recursive := true)
             |          FROM t WHERE len(tk) >= 8)),
             |  dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |  cov AS (SELECT DISTINCT g.doc_id, u.p
             |          FROM g JOIN dup USING (gram),
             |               LATERAL (SELECT unnest(range(g.start, g.start + 8)) AS p) u),
             |  toks AS (SELECT doc_id, pos, tok FROM (
             |             SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
             |                                    for i in range(1, len(tk) + 1)], recursive := true)
             |             FROM t)),
             |  kept AS (SELECT toks.doc_id, count(*) AS n_kept,
             |                  array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
             |           FROM toks LEFT JOIN cov
             |             ON toks.doc_id = cov.doc_id AND toks.pos = cov.p
             |           WHERE cov.p IS NULL
             |           GROUP BY toks.doc_id)
             |SELECT d.doc_id, coalesce(n_kept, 0) AS n_kept,
             |       coalesce(clean_text, '') AS clean_text
             |FROM documents d LEFT JOIN kept ON d.doc_id = kept.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    GQuery(
      "docs_export_pipeline",
      (s, dir) => {
        // The EXPORT capstone — what actually ships to training, as ONE
        // plan: span-removal cleaning (dedup at sub-document
        // granularity) → minimum-length gate on the CLEANED token count
        // → concat-then-chunk packing of the survivors into 2048-token
        // context windows. Composes the verified pieces end-to-end so
        // the stage interfaces (cleaned counts feeding the gate feeding
        // the cumsum) are themselves differentially checked.
        import org.apache.spark.sql.expressions.Window
        val cleaned = spanRemoved(docs(s, dir), n = 8)
          .where(col("n_kept") >= 30)
        val w = Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cleaned
          .withColumn("cum", sum("n_kept").over(w))
          .select(col("doc_id"), col("n_kept"),
            expr("(cum - n_kept) div 2048").as("bin"),
            ((col("cum") - col("n_kept")) % 2048).as("off"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  g AS (SELECT doc_id, start, gram FROM (
             |          SELECT doc_id, unnest([{'start': i, 'gram': array_to_string(tk[i:i+7], ' ')}
             |                                 for i in range(1, len(tk) - 6)], recursive := true)
             |          FROM t WHERE len(tk) >= 8)),
             |  dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
             |  cov AS (SELECT DISTINCT g.doc_id, u.p
             |          FROM g JOIN dup USING (gram),
             |               LATERAL (SELECT unnest(range(g.start, g.start + 8)) AS p) u),
             |  toks AS (SELECT doc_id, pos FROM (
             |             SELECT doc_id, unnest([{'pos': i, 'tok': tk[i]}
             |                                    for i in range(1, len(tk) + 1)], recursive := true)
             |             FROM t)),
             |  kept AS (SELECT toks.doc_id, count(*) AS n_kept
             |           FROM toks LEFT JOIN cov
             |             ON toks.doc_id = cov.doc_id AND toks.pos = cov.p
             |           WHERE cov.p IS NULL
             |           GROUP BY toks.doc_id),
             |  gated AS (SELECT doc_id, n_kept FROM kept WHERE n_kept >= 30),
             |  c AS (SELECT doc_id, n_kept,
             |               sum(n_kept) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |        FROM gated)
             |SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept,
             |       CAST((cum - n_kept) // 2048 AS BIGINT) AS bin,
             |       CAST((cum - n_kept) % 2048 AS BIGINT) AS off
             |FROM c ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_pack_sequential",
      (s, dir) => {
        // Sequence PACKING (concat-then-chunk, the way LLM training data
        // is packed into fixed context windows): documents concatenate
        // in doc_id order and chunk into 2048-token bins; each doc's bin
        // and offset come from the running token total BEFORE it. One
        // global cumulative window at test scale; at 100 TB this is the
        // classic two-pass distributed scan — per-partition token
        // subtotals (tiny) broadcast back as partition offsets, so no
        // single-partition window ever forms.
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .withColumn("cum", sum("n_tokens").over(w))
          .select(col("doc_id"), col("n_tokens"),
            expr("(cum - n_tokens) div 2048").as("bin"),
            ((col("cum") - col("n_tokens")) % 2048).as("off"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |                  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
             |           FROM documents),
             |     c AS (SELECT doc_id, n_tokens,
             |                  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |           FROM t)
             |SELECT doc_id, n_tokens,
             |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
             |       CAST((cum - n_tokens) % 2048 AS BIGINT) AS off
             |FROM c ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_unigram_logprob",
      (s, dir) => {
        // Unigram language-model scoring (the KenLM-style quality gate,
        // simplified to its distributed shape): corpus unigram
        // probabilities are trained in one aggregate, BROADCAST back
        // onto the token stream, and each doc scores its average
        // negative log-likelihood — high avg_nll = improbable token mix.
        // The model (vocabulary counts) is the small side at any corpus
        // size; the corpus streams through once.
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        val tf = tok.groupBy("term").agg(count(lit(1)).as("n_term"))
        val tot = tok.agg(count(lit(1)).as("n_total"))
        tok.join(broadcast(tf), "term").crossJoin(broadcast(tot))
          .select(col("doc_id"),
            (-log(col("n_term").cast("double") / col("n_total"))).as("nll"))
          .groupBy("doc_id")
          .agg(round(avg("nll"), 4).as("avg_nll"),
            count(lit(1)).as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
             |           FROM documents),
             |     tf AS (SELECT term, count(*) AS n_term FROM w GROUP BY term),
             |     tot AS (SELECT count(*) AS n_total FROM w)
             |SELECT doc_id, round(avg(-ln(n_term * 1.0 / n_total)), 4) AS avg_nll,
             |       count(*) AS n_tokens
             |FROM w JOIN tf USING (term), tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_dsir_select",
      (s, dir) => {
        // DSIR-STYLE DATA SELECTION (importance resampling over hashed
        // n-gram features — Xie et al. 2023, "Data Selection for
        // Language Models via Importance Resampling"): pick the raw
        // documents whose feature distribution looks most like a small
        // TARGET seed set. Target here = the English docs; candidates =
        // everything else. Features are unigrams+bigrams hashed into
        // B=512 buckets (the hashing is what makes the method 100 TB-
        // viable: both "models" are fixed-size B-vectors no matter the
        // corpus); each model is Laplace-smoothed bucket frequencies,
        // and a candidate's score is its mean log p_target/p_raw over
        // its own gram stream. Shapes: two O(B) aggregates train the
        // models, the log-ratio table (512 rows) BROADCASTS back onto
        // the candidate gram stream, one hash aggregate per doc scores
        // it — the corpus streams through, nothing corpus-sized
        // shuffles. Ranking is on the ROUNDED score (4 dp, doc_id
        // tie-break) so cross-engine libm noise cannot flip the cut.
        val B = 512
        // tokenize ONCE per row, then derive unigrams+bigrams from the
        // materialized array (the first cut re-ran filter(split(...))
        // three times inside the bigram lambda: warm-min 4.16 s → 2.09 s
        // at sf0.1 from this change alone)
        val grams = docs(s, dir)
          .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("tk"))
          .select(col("doc_id"), col("lang"),
            explode(concat(col("tk"), expr(
              """transform(slice(tk, 1, greatest(size(tk) - 1, 0)),
                |  (x, i) -> concat(x, ' ', tk[i + 1]))""".stripMargin))).as("g"))
          .select(col("doc_id"), col("lang"),
            (conv(substring(md5(concat(lit("dsir:"), col("g")).cast("binary")), 1, 8), 16, 10)
              .cast("long") % B).as("b"))
        def model(pool: DataFrame) = pool.groupBy("b").agg(count(lit(1)).as("n"))
        val t = model(grams.where(col("lang") === "en"))
        val r = model(grams.where(col("lang") =!= "en"))
        // full-outer on bucket id: unseen buckets still get smoothed mass
        val ratio = t.withColumnRenamed("n", "nt")
          .join(r.withColumnRenamed("n", "nr"), Seq("b"), "full_outer")
          .select(col("b"),
            coalesce(col("nt"), lit(0L)).as("nt"), coalesce(col("nr"), lit(0L)).as("nr"))
        val logr = ratio.crossJoin(
            ratio.agg(sum("nt").as("st"), sum("nr").as("sr")))
          .select(col("b"),
            (log((col("nt") + 1).cast("double") / (col("st") + B)) -
              log((col("nr") + 1).cast("double") / (col("sr") + B))).as("lr"))
        val scored = grams.where(col("lang") =!= "en")
          .join(broadcast(logr), "b")
          .groupBy("doc_id", "lang")
          .agg(round(avg("lr"), 4).as("dsir_score"), count(lit(1)).as("n_grams"))
        scored
          .withColumn("rank", row_number().over(
            Window.orderBy(col("dsir_score").desc, col("doc_id"))))
          .where(col("rank") <= 20)
          .select(col("rank"), col("doc_id"), col("lang"),
            col("dsir_score"), col("n_grams"))
          .orderBy("rank")
      },
      Some("""WITH t0 AS (SELECT doc_id, lang,
             |                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |            FROM documents),
             |  grams AS (SELECT doc_id, lang,
             |                   ('0x' || substring(md5('dsir:' || g), 1, 8))::BIGINT % 512 AS b
             |            FROM (SELECT doc_id, lang, unnest(tk ||
             |                         [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS g
             |                  FROM t0)),
             |  tm AS (SELECT b, count(*) AS nt FROM grams WHERE lang = 'en' GROUP BY b),
             |  rm AS (SELECT b, count(*) AS nr FROM grams WHERE lang <> 'en' GROUP BY b),
             |  ratio AS (SELECT coalesce(tm.b, rm.b) AS b,
             |                   coalesce(nt, 0) AS nt, coalesce(nr, 0) AS nr
             |            FROM tm FULL OUTER JOIN rm ON tm.b = rm.b),
             |  logr AS (SELECT b,
             |                  ln((nt + 1) * 1.0 / ((SELECT sum(nt) FROM ratio) + 512)) -
             |                  ln((nr + 1) * 1.0 / ((SELECT sum(nr) FROM ratio) + 512)) AS lr
             |           FROM ratio),
             |  scored AS (SELECT doc_id, lang, round(avg(lr), 4) AS dsir_score,
             |                    count(*) AS n_grams
             |             FROM grams JOIN logr USING (b)
             |             WHERE lang <> 'en'
             |             GROUP BY doc_id, lang),
             |  ranked AS (SELECT row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rank,
             |                    doc_id, lang, dsir_score, n_grams
             |             FROM scored)
             |SELECT CAST(rank AS INT) AS rank, doc_id, lang, dsir_score, n_grams
             |FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    GQuery(
      "text_inverted_index_serve",
      (s, dir) => {
        // INVERTED-INDEX SERVING: the postings table (doc_id per
        // distinct term) lands on disk PARTITIONED BY TERM — the layout
        // that makes a conjunctive query read |postings of the query
        // terms|, not |corpus|. The 3-term AND is served as a partition-
        // pruned scan of exactly 3 term directories + one groupBy
        // counting term hits per doc (n = 3 ⇔ all terms present);
        // `pruned` reads the pinned plan's PartitionFilters for the
        // term predicate, so an index layout that silently stopped
        // pruning fails the oracle. At 100 TB the term dirs become
        // term-bucketed files, same economics. The hash compare
        // certifies the index serves EXACTLY the scan-and-filter truth.
        val r = Scratch.dir("postings")
        docs(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            explode(array_distinct(TextOps.tokens(col("text")))).as("term"))
          .write.mode("overwrite").partitionBy("term").parquet(r)
        val terms = Seq("spark", "window", "hash")
        val probe = s.read.parquet(r).where(col("term").isin(terms.map(lit): _*))
        val pruned = probe.queryExecution.executedPlan.toString
          .contains("PartitionFilters: [term")
        probe.groupBy("doc_id", "lang", "n_chars")
          .agg(count(lit(1)).as("n_terms_hit"))
          .where(col("n_terms_hit") === terms.size)
          .withColumn("pruned", lit(pruned))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang, n_chars,
             |                  unnest(list_distinct(list_filter(
             |                    string_split(text, ' '), x -> x <> ''))) AS term
             |           FROM documents)
             |SELECT doc_id, lang, n_chars,
             |       CAST(count(*) AS BIGINT) AS n_terms_hit, true AS pruned
             |FROM t WHERE term IN ('spark', 'window', 'hash')
             |GROUP BY 1, 2, 3 HAVING count(*) = 3
             |ORDER BY doc_id""".stripMargin)),

    GQuery(
      "corpus_js_divergence",
      (s, dir) => {
        // CORPUS DRIFT as pairwise JENSEN-SHANNON DIVERGENCE between
        // the sources' unigram distributions — the bounded, symmetric
        // alternative to raw KL (defined even where one source lacks a
        // term: the mixture M = (P+Q)/2 is nonzero wherever either is).
        // The monitoring primitive for "did this crawl/source shift?"
        // at 100 TB: each source's distribution is ONE vocab-sized
        // aggregate over the token stream (corpus-sized data passes
        // once), the pair lattice is |sources|² rows, and the per-pair
        // term union is a conditional-max aggregate keyed by (pair,
        // term) — vocab-sized shuffles, never corpus-sized. Reported in
        // bits (÷ln 2, so 0 = identical, 1 = disjoint), rounded 6 dp
        // under a total order so cross-engine double-summation noise
        // cannot flip the hash.
        val tok = docs(s, dir).select(col("source"),
          explode(TextOps.tokens(col("text"))).as("t"))
        val tf = tok.groupBy("source", "t")
          .agg(count(lit(1)).cast("double").as("c"))
        val tot = tf.groupBy("source").agg(sum("c").as("n"))
        val u = tf.join(tot, "source")
          .select(col("source"), col("t"), (col("c") / col("n")).as("p"))
        val srcs = docs(s, dir).select("source").distinct()
        val pr = srcs.as("a").join(srcs.as("b"),
            col("a.source") < col("b.source"))
          .select(col("a.source").as("s1"), col("b.source").as("s2"))
        val ppair = broadcast(pr)
          .join(u, col("source") === col("s1") || col("source") === col("s2"))
          .groupBy("s1", "s2", "t")
          .agg(
            coalesce(max(when(col("source") === col("s1"), col("p"))), lit(0.0)).as("p"),
            coalesce(max(when(col("source") === col("s2"), col("p"))), lit(0.0)).as("q"))
        ppair.groupBy("s1", "s2")
          .agg(round(
            (sum(when(col("p") > 0, col("p") * log(lit(2.0) * col("p") / (col("p") + col("q")))).otherwise(lit(0.0))) +
             sum(when(col("q") > 0, col("q") * log(lit(2.0) * col("q") / (col("p") + col("q")))).otherwise(lit(0.0))))
              / (lit(2.0) * log(lit(2.0))), 6).as("jsd_bits"),
            count(lit(1)).as("n_terms"))
          .orderBy("s1", "s2")
      },
      Some("""WITH tok AS (SELECT source,
             |                    unnest(list_filter(string_split(text, ' '),
             |                                       x -> x <> '')) AS t
             |             FROM documents),
             |  tf AS (SELECT source, t, count(*)::DOUBLE AS c FROM tok GROUP BY 1, 2),
             |  tot AS (SELECT source, sum(c) AS n FROM tf GROUP BY 1),
             |  u AS (SELECT tf.source, t, c / n AS p FROM tf JOIN tot USING (source)),
             |  srcs AS (SELECT DISTINCT source FROM documents),
             |  pr AS (SELECT a.source AS s1, b.source AS s2
             |         FROM srcs a JOIN srcs b ON a.source < b.source),
             |  ppair AS (SELECT s1, s2, t,
             |                   coalesce(max(CASE WHEN u.source = s1 THEN p END), 0) AS p,
             |                   coalesce(max(CASE WHEN u.source = s2 THEN p END), 0) AS q
             |            FROM pr JOIN u ON u.source IN (s1, s2)
             |            GROUP BY 1, 2, 3)
             |SELECT s1, s2,
             |       round((sum(CASE WHEN p > 0 THEN p * ln(2 * p / (p + q)) ELSE 0 END) +
             |              sum(CASE WHEN q > 0 THEN q * ln(2 * q / (p + q)) ELSE 0 END))
             |             / (2 * ln(2)), 6) AS jsd_bits,
             |       CAST(count(*) AS BIGINT) AS n_terms
             |FROM ppair GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    GQuery(
      "tfidf_top_terms",
      (s, dir) => {
        // Per-document top-3 terms by TF-IDF. Corpus statistics (doc
        // count, per-term doc frequency) are broadcast back onto the
        // per-(doc, term) counts — the vocabulary is tiny relative to the
        // corpus, so df is always the broadcast side at scale. Ranking is
        // on the ROUNDED score (6 dp) so cross-engine libm ulp noise in
        // ln() can't flip the order; term asc breaks residual ties.
        val d = docs(s, dir)
        val w = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        val c = w.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
        val dfreq = w.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val scored = c.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("cnt"),
            round(col("cnt") * log(col("n").cast("double") / col("df")), 6).as("tfidf"))
        scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("term"))).cast("long"))
          .where(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("term"), col("cnt"), col("tfidf"))
          .orderBy("doc_id", "rn")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     w AS (SELECT doc_id, unnest(tk) AS term FROM t),
             |     c AS (SELECT doc_id, term, count(*) AS cnt FROM w GROUP BY 1, 2),
             |     df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
             |     n AS (SELECT count(*) AS n FROM documents),
             |     s AS (SELECT doc_id, term, cnt,
             |                  round(cnt * ln(n * 1.0 / df), 6) AS tfidf
             |           FROM c JOIN df USING (term) CROSS JOIN n),
             |     r AS (SELECT doc_id, term, cnt, tfidf,
             |                  row_number() OVER (PARTITION BY doc_id
             |                                     ORDER BY tfidf DESC, term ASC) AS rn
             |           FROM s)
             |SELECT doc_id, rn, term, cnt, tfidf
             |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    GQuery(
      "terms_heavy_hitters",
      (s, dir) => {
        // Corpus-wide heavy hitters: top-25 tokens by total occurrences,
        // with document frequency and corpus share. The share window runs
        // over the AGGREGATED vocabulary (|vocab| rows), not the token
        // stream — a single-partition window is fine after reduction.
        val w = docs(s, dir)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        w.groupBy("term")
          .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("n_docs"))
          .withColumn("share",
            round(col("cnt") / sum("cnt").over(Window.partitionBy()), 6))
          .orderBy(desc("cnt"), asc("term"))
          .limit(25)
      },
      Some("""WITH w AS (SELECT doc_id,
             |                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
             |           FROM documents),
             |     c AS (SELECT term, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
             |           FROM w GROUP BY term)
             |SELECT term, cnt, n_docs,
             |       round(cnt * 1.0 / sum(cnt) OVER (), 6) AS share
             |FROM c ORDER BY cnt DESC, term ASC LIMIT 25""".stripMargin)),

    GQuery(
      "text_pii_redact",
      (s, dir) => {
        // PII scrubbing: regex detection + redaction of emails and phone
        // numbers. The raw corpus is PII-free, so a deterministic contact
        // string derived from (doc_id, source) is appended first — the
        // redaction pipeline (patterns RE2-compatible for the oracle) is
        // what is under test. Pure per-row regex — codegen'd, no shuffle.
        val email = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phone = "555-[0-9]{4}"
        docs(s, dir)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact: user"), col("doc_id"),
              lit("@"), col("source"), lit(".org phone 555-01"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")).as("contact"))
          .select(col("doc_id"),
            size(expr(s"regexp_extract_all(contact, '$email', 0)")).cast("long").as("n_emails"),
            size(expr(s"regexp_extract_all(contact, '$phone', 0)")).cast("long").as("n_phones"),
            md5(regexp_replace(regexp_replace(col("contact"), email, "<EMAIL>"),
              phone, "<PHONE>").cast("binary")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |                  text || ' contact: user' || doc_id || '@' || source ||
             |                  '.org phone 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0') AS contact
             |           FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(contact, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(contact, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
             |       md5(regexp_replace(regexp_replace(contact, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |                          '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
             |FROM d ORDER BY doc_id""".stripMargin)),

    GQuery(
      "docs_length_percentiles",
      (s, dir) => {
        // Length-decile banding (the filter-by-length-percentile step of
        // corpus curation): global ntile over (n_chars, doc_id) → per-band
        // stats. NOTE: a global ntile needs a total sort; at 100 TB the
        // same bands come from approx_percentile cutoffs + a broadcast
        // range join, avoiding the single-partition window. The exact
        // form is kept here because it is the oracle-checkable one.
        docs(s, dir)
          .select(col("doc_id"), col("n_chars"),
            ntile(10).over(Window.orderBy("n_chars", "doc_id")).cast("long").as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            min("n_chars").as("min_chars"),
            max("n_chars").as("max_chars"),
            round(avg("n_chars"), 2).as("avg_chars"))
          .orderBy("decile")
      },
      Some("""WITH d AS (SELECT doc_id, n_chars,
             |                  ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
             |           FROM documents)
             |SELECT decile, count(*) AS n_docs,
             |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             |       round(avg(n_chars), 2) AS avg_chars
             |FROM d GROUP BY decile ORDER BY decile""".stripMargin)),

    GQuery(
      "docs_keep_pipeline",
      (s, dir) => {
        // END-TO-END curation: the composite "what survives into the
        // training set" query — Gopher quality rules AND stopword
        // language gate AND exact-dedup keeper (min doc_id per content
        // fingerprint). One window shuffle on the fingerprint; every
        // other predicate is scan-side codegen. This is the whole
        // pipeline a corpus run executes per snapshot, as one plan.
        val toks = TextOps.tokens(col("text"))
        val stopArr = array(TextOps.stopwords.map(lit): _*)
        docs(s, dir)
          .select(col("doc_id"), col("lang"), col("text"),
            size(toks).cast("long").as("n_tokens"),
            size(filter(toks, x => array_contains(stopArr, x))).as("stop_hits"),
            (aggregate(toks, lit(0.0), (acc, x) => acc + length(x)) / size(toks)).as("mwl"),
            md5(concat_ws("|", col("lang"), col("text")).cast("binary")).as("fp"))
          .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
          .where(col("n_tokens").between(20, 400) &&
            col("mwl").between(3.0, 10.0) &&
            col("stop_hits") >= 2 &&
            col("stop_hits").cast("double") / col("n_tokens") >= 0.1 &&
            col("doc_id") === col("keeper"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, text,
              |                  list_filter(string_split(text, ' '), x -> x <> '') AS tk,
              |                  md5(lang || '|' || text) AS fp
              |           FROM documents),
              |     e AS (SELECT doc_id, lang,
              |                  CAST(len(tk) AS BIGINT) AS n_tokens,
              |                  len(list_filter(tk, x -> x IN ($stopList))) AS stop_hits,
              |                  list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk) AS mwl,
              |                  min(doc_id) OVER (PARTITION BY fp) AS keeper
              |           FROM t)
              |SELECT doc_id, lang, n_tokens
              |FROM e
              |WHERE n_tokens BETWEEN 20 AND 400
              |  AND mwl BETWEEN 3.0 AND 10.0
              |  AND stop_hits >= 2
              |  AND stop_hits * 1.0 / n_tokens >= 0.1
              |  AND doc_id = keeper
              |ORDER BY doc_id""".stripMargin)),

    GQuery(
      "terms_cms_topk",
      (s, dir) => {
        // Count-Min-Sketch heavy hitters, registered as the AGREEMENT
        // query: the CMS estimates ([[cmsBigramEstimates]] — the
        // sketch is engine-specific xxhash64) join the exact top-25
        // bigram counts, and the driver hash-verifies the exact counts
        // plus the CMS one-sidedness invariant est >= exact (a HARD
        // guarantee of the structure — any undercount is a bug, and
        // the oracle expects the flag true on every row).
        // CorpusOpsSpec additionally gates the mean overcount against
        // the N/w collision-mass bound. Production probes
        // cmsBigramEstimates alone: the sketch stays 4×256 cells
        // regardless of corpus size, the path when |vocab| itself
        // doesn't fit (vs terms_heavy_hitters' vocab-bounded exchange).
        val exact = docs(s, dir)
          .select(explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("term"))
          .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(desc("exact_cnt"), asc("term"))
          .limit(25)
        exact.join(cmsBigramEstimates(docs(s, dir)), Seq("term"))
          .select(col("term"), col("exact_cnt"),
            (col("est_cnt") >= col("exact_cnt")).as("est_ge_exact"))
          .orderBy(desc("exact_cnt"), asc("term"))
      },
      Some("""WITH t AS (SELECT unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS term
             |           FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |                 FROM documents))
             |SELECT term, count(*) AS exact_cnt, true AS est_ge_exact
             |FROM t GROUP BY term
             |ORDER BY exact_cnt DESC, term ASC LIMIT 25""".stripMargin)),

    GQuery(
      "terms_approx_topk",
      (s, dir) => {
        // Spark 4's native mergeable heavy-hitters sketch
        // (`approx_top_k`, DataSketches frequent-items under the hood),
        // registered as an AGREEMENT query like terms_cms_topk: exact
        // top-25 bigram counts are the hash-verified payload, the sketch
        // estimate rides along as the one-sided invariant flag
        // est >= exact (frequent-items estimates never undercount; an
        // item purged from the sketch entirely would surface as a null →
        // flag false → hash mismatch). maxItemsTracked=4096 is sized
        // over this corpus's bigram vocabulary so no purge occurs and
        // the sketch is exact; at a 100 TB vocabulary the same plan
        // ships a CONSTANT-size sketch per partition instead of the
        // per-term exchange the exact path pays — that is the point of
        // the surface, and the flag is the part that stays guaranteed.
        val terms = docs(s, dir)
          .select(explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("term"))
        // the sketch shortlist is asked for 200 items, NOT 25: at a tied
        // count spanning the rank-25 boundary the sketch's own top-25
        // breaks the tie by ITS ordering, which can exclude the item the
        // exact (count desc, term asc) cut keeps — at sf0.1 this dropped
        // a 330-count bigram tied with rank 24 and nulled its flag. A
        // wide shortlist makes the join immune to any tie narrower than
        // 175 items; the exact side still takes the deterministic cut.
        val est = terms
          .agg(expr("approx_top_k(term, 200, 4096)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("term"),
            col("e.count").cast("long").as("est_cnt"))
        val exact = terms.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(desc("exact_cnt"), asc("term")).limit(25)
        exact.join(est, Seq("term"), "left")
          .select(col("term"), col("exact_cnt"),
            (col("est_cnt").isNotNull && col("est_cnt") >= col("exact_cnt"))
              .as("est_ge_exact"))
          .orderBy(desc("exact_cnt"), asc("term"))
      },
      Some("""WITH t AS (SELECT unnest([tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]) AS term
             |           FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |                 FROM documents))
             |SELECT term, count(*) AS exact_cnt, true AS est_ge_exact
             |FROM t GROUP BY term
             |ORDER BY exact_cnt DESC, term ASC LIMIT 25""".stripMargin)),

    GQuery(
      "docs_token_quantiles",
      (s, dir) => {
        // EXACT type-1 (discrete) percentiles of per-doc token counts:
        // global sort + row_number, pick rank ceil(p·n) — identical
        // integer rank math in both engines, so the result is oracle-
        // hashable (percentile_approx cut points are engine-specific,
        // though its mergeable sketch is the preferred form at 100 TB,
        // where the exact path's global sort is the bottleneck).
        val ps = Seq(0.25, 0.5, 0.75, 0.95)
        val tok = docs(s, dir)
          .select(size(TextOps.tokens(col("text"))).as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("n_tokens")
        tok.withColumn("rn", row_number().over(w).cast("long"))
          .crossJoin(broadcast(tok.agg(count(lit(1)).as("nt"))))
          .select(explode(array(ps.map(lit): _*)).as("p"),
            col("rn"), col("n_tokens"), col("nt"))
          .where(col("rn") ===
            greatest(lit(1L), ceil(col("p") * col("nt")).cast("long")))
          .select(col("p"), col("n_tokens").cast("long").as("n_tokens_q"))
          .orderBy("p")
      },
      Some("""WITH t AS (SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
             |           FROM documents),
             | r AS (SELECT n_tokens, row_number() OVER (ORDER BY n_tokens) AS rn FROM t),
             | n AS (SELECT count(*) AS nt FROM t),
             | p AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]::DOUBLE[]) AS p)
             |SELECT p, n_tokens::BIGINT AS n_tokens_q
             |FROM p, n JOIN r ON r.rn = greatest(1, ceil(p.p * n.nt)::BIGINT)
             |ORDER BY p""".stripMargin)),

    GQuery(
      "skew_salted_latest",
      (s, dir) => {
        // Two-stage SALTED latest-wins (Skew.saltedLatestWins) over the
        // same input and key as ingest_latest_global, checked against the
        // SAME oracle — the proof that salting is semantics-preserving.
        // Stage 1 bounds any reduce task to ~|hottest key|/8 rows; stage 2
        // merges 8 partials per key. This is the shape that survives a
        // key holding 10% of 100 TB.
        Skew.saltedLatestWins(
          Tables.t(s, dir, "events")
            .select("user_id", "event_id", "event_type", "value", "props"),
          keys = Seq("user_id"), version = Seq("event_id"), saltBuckets = 8)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |       arg_max(event_id, event_id)   AS event_id,
             |       arg_max(event_type, event_id) AS event_type,
             |       arg_max(value, event_id)      AS value,
             |       arg_max(props, event_id)      AS props
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "text_oov_rate",
      (s, dir) => {
        // TOKENIZER VOCABULARY COVERAGE — the go/no-go check before
        // committing a corpus to a fixed-vocab tokenizer: build the
        // top-1000 vocabulary from corpus frequencies (total order:
        // count DESC, token ASC — rank-1000 ties must resolve the same
        // everywhere), then measure per-source out-of-vocabulary token
        // mass. Shape: one token-count aggregate, a top-k, and ONE
        // re-scan with the 1000-row vocab BROADCAST left-joined on —
        // the corpus never shuffles by token twice. Counts stay
        // integers; only the final rate divides.
        val tok = docs(s, dir)
          .select(col("source"),
            explode(TextOps.tokens(col("text"))).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("tok")).limit(1000)
          .select(col("tok"), lit(1).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("source"), col("n_tokens"), col("n_oov"),
            round(col("n_oov") / col("n_tokens"), 6).as("oov_rate"))
          .orderBy("source")
      },
      Some("""WITH tok AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
             |             FROM documents),
             |  vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1)
             |            ORDER BY cnt DESC, tok ASC LIMIT 1000)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
             |       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |       round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
             |FROM tok LEFT JOIN vocab v USING (tok)
             |GROUP BY source ORDER BY source""".stripMargin))
  )
}
