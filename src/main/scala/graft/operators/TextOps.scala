package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §2B):
  * tokenization, n-grams, language-ID heuristic, quality scoring, token
  * counting, document fingerprinting.
  *
  * All built from codegen'd `functions._` / higher-order array functions —
  * no UDFs, so the whole pipeline stays inside whole-stage codegen and
  * scales linearly with input splits (embarrassingly parallel per-row work
  * plus one hash aggregate where grouping is needed).
  */
object TextOps {

  /** Whitespace tokens with empties dropped (text has trailing blanks). */
  def tokens(c: Column): Column = filter(split(c, " "), x => x =!= "")

  /** Small fixed stopword list used by quality scoring + lang-id. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  private val stopArray: Column = array(stopwords.map(lit): _*)

  /** Word n-gram array (n >= 2) from a token array, via n shifted slices
    * zipped with space-concat — pure codegen, no explode until the caller
    * wants rows.
    */
  def ngrams(toks: Column, n: Int): Column = {
    require(n >= 2)
    // guard: fewer than n tokens → empty result (a negative slice length
    // would throw; empty-token docs must not kill a 100 TB job)
    val win = greatest(size(toks) - (n - 1), lit(0))
    val slices = (0 until n).map(j => slice(toks, lit(j + 1), win))
    slices.reduceLeft((acc, sl) => zip_with(acc, sl, (a, b) => concat(a, lit(" "), b)))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** DuckDB oracle replaying the text_winnow_fast pipeline bit-for-bit:
    * [[graft.functions.RollingHashGrams]] computes the k-gram polynomial
    * hash Σ byte·B^(k-1-j) with Long overflow, i.e. mod 2^64 — DuckDB
    * reproduces exactly that with HUGEINT arithmetic (each term is
    * (B^j mod 2^64)·byte < 2^71, the 8-term sum < 2^74, well inside
    * HUGEINT; one final % 2^64 then a signed-complement case maps back
    * to the Long bit pattern). The B-power constants are computed HERE
    * with the same Long wrap the kernel uses and inlined as unsigned
    * literals — the repo's "inline computed constants into both
    * engines" oracle pattern. Valid for ASCII text (byte == codepoint,
    * so ord(substring) reads the same window the kernel's UTF-8 byte
    * loop does); TextOpsSpec pins the fixtures to ASCII so a non-ASCII
    * fixture fails loudly there instead of hash-diverging here.
    */
  def rollingHashOracle(k: Int, win: Int): String = {
    val B = 1000003L
    // B^(k-1-j) mod 2^64 for j = 0..k-1, via natural Long wrap
    val pows = (0 until k).map(j =>
      (0 until (k - 1 - j)).foldLeft(1L)((acc, _) => acc * B))
    val terms = pows.zipWithIndex.map { case (c, j) =>
      s"${java.lang.Long.toUnsignedString(c)}::HUGEINT * ord(substring(text, i + $j, 1))"
    }.mkString(" +\n                     ")
    s"""WITH h AS (SELECT doc_id,
       |                  [CASE WHEN v >= 9223372036854775808::HUGEINT
       |                        THEN CAST(v - 18446744073709551616::HUGEINT AS BIGINT)
       |                        ELSE CAST(v AS BIGINT) END
       |                   for v in
       |                    [($terms) % 18446744073709551616::HUGEINT
       |                     for i in range(1, length(text) - $k + 2)]] AS hs
       |           FROM documents WHERE length(text) >= ${k + win - 1}),
       |  sel AS (SELECT doc_id,
       |                 list_sort(list_distinct([list_min(hs[j : j + ${win - 1}])
       |                                          for j in range(1, len(hs) - $win + 2)])) AS fp
       |          FROM h)
       |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
       |       md5(array_to_string(fp, ',')) AS fp_digest
       |FROM sel ORDER BY doc_id""".stripMargin
  }

  /** The S-stemmer (Harman 1991, "How effective is suffixing?"): three
    * plural-stripping rules — `ies`→`y` (unless eies/aies), `es`→`e`
    * (unless aes/ees/oes), drop final `s` (unless us/ss). Weaker than
    * Porter but a PUBLISHED, exactly-specified stemmer whose rules are
    * pure conditional string ops — native codegen'd functions here and
    * bit-identical CASE logic in the oracle, where Porter's 60 rules
    * would force a UDF and a rows-only check.
    */
  def sStem(w: Column): Column =
    when(w.endsWith("ies") && !w.endsWith("eies") && !w.endsWith("aies"),
      concat(w.substr(lit(1), length(w) - 3), lit("y")))
      .when(w.endsWith("es") && !w.endsWith("aes") && !w.endsWith("ees") &&
        !w.endsWith("oes"),
        w.substr(lit(1), length(w) - 1))
      .when(w.endsWith("s") && !w.endsWith("us") && !w.endsWith("ss"),
        w.substr(lit(1), length(w) - 1))
      .otherwise(w)

  val all: Seq[GQuery] = Seq(

    GQuery(
      "text_stem_terms",
      (s, dir) => {
        // STEMMED term frequencies: tokens lowercased, S-stemmed,
        // counted; top-20 stems with their surface-form diversity
        // (n_forms — the collapse the stemmer exists to produce).
        // One explode + one hash aggregate; the stemmer is three
        // codegen CASE branches, no UDF.
        docs(s, dir)
          .select(explode(tokens(lower(col("text")))).as("w"))
          .select(sStem(col("w")).as("stem"), col("w"))
          .groupBy("stem")
          .agg(count(lit(1)).as("n"), count_distinct(col("w")).as("n_forms"))
          .orderBy(desc("n"), asc("stem")).limit(20)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(desc("n"), asc("stem"))).cast("long"))
          .select(col("rank"), col("stem"), col("n"), col("n_forms"))
          .orderBy("rank")
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
             |                                     x -> x <> '')) AS w
             |           FROM documents),
             |     st AS (SELECT w,
             |                   CASE WHEN w LIKE '%ies' AND w NOT LIKE '%eies'
             |                             AND w NOT LIKE '%aies'
             |                        THEN substring(w, 1, length(w) - 3) || 'y'
             |                        WHEN w LIKE '%es' AND w NOT LIKE '%aes'
             |                             AND w NOT LIKE '%ees' AND w NOT LIKE '%oes'
             |                        THEN substring(w, 1, length(w) - 1)
             |                        WHEN w LIKE '%s' AND w NOT LIKE '%us'
             |                             AND w NOT LIKE '%ss'
             |                        THEN substring(w, 1, length(w) - 1)
             |                        ELSE w END AS stem
             |            FROM w),
             |     agg AS (SELECT stem, CAST(count(*) AS BIGINT) AS n,
             |                    CAST(count(DISTINCT w) AS BIGINT) AS n_forms
             |             FROM st GROUP BY stem),
             |     ranked AS (SELECT row_number() OVER (ORDER BY n DESC, stem) AS rank,
             |                       stem, n, n_forms
             |                FROM agg)
             |SELECT rank, stem, n, n_forms FROM ranked
             |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    GQuery(
      "text_readability",
      (s, dir) => {
        // FLESCH-KINCAID GRADE as a corpus quality signal: grade =
        // 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
        // syllables approximated by vowel-group counts (the standard
        // programmatic proxy) and sentences by terminal-punctuation
        // runs. Every count is a regexp over the text — one map-only
        // pass, codegen regexps, no UDF — and the final double chain is
        // identical in both engines, floor-scaled at e2 (the
        // transcendental-free analog of the BM25 convention; division
        // order is pinned by writing the formula identically). Docs
        // with no sentence terminator count as one sentence.
        val words = size(tokens(col("text"))).cast("double")
        val sentences = greatest(lit(1L),
          size(split(col("text"), "[.!?]+\\s")) - 1).cast("double")
        val syllables = (size(split(lower(col("text")), "[aeiouy]+")) - 1)
          .cast("double")
        docs(s, dir)
          .select(col("doc_id"),
            words.cast("long").as("n_words"),
            sentences.cast("long").as("n_sentences"),
            syllables.cast("long").as("n_syllables"),
            floor((lit(0.39) * (words / sentences) +
              lit(11.8) * (syllables / words) - lit(15.59)) * 100)
              .cast("long").as("fk_grade_e2"))
          .where(col("n_words") > 0)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, text,
             |                  len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE AS words,
             |                  greatest(1, len(regexp_split_to_array(text, '[.!?]+\s')) - 1)::DOUBLE AS sentences,
             |                  (len(regexp_split_to_array(lower(text), '[aeiouy]+')) - 1)::DOUBLE AS syllables
             |           FROM documents)
             |SELECT doc_id, CAST(words AS BIGINT) AS n_words,
             |       CAST(sentences AS BIGINT) AS n_sentences,
             |       CAST(syllables AS BIGINT) AS n_syllables,
             |       CAST(floor((0.39 * (words / sentences) +
             |                   11.8 * (syllables / words) - 15.59) * 100) AS BIGINT)
             |         AS fk_grade_e2
             |FROM t WHERE words > 0 ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_tokens",
      (s, dir) => {
        docs(s, dir)
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"),
            length(col("text")).cast("long").as("len_chars"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
             |       length(text) AS len_chars,
             |       n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_lang_stats",
      (s, dir) => {
        docs(s, dir)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("n_chars"), 2).as("avg_chars"),
            sum(size(tokens(col("text")))).cast("long").as("sum_tokens"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars,
             |       CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS sum_tokens,
             |       count(DISTINCT source) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    GQuery(
      "text_quality",
      (s, dir) => {
        // Quality scoring: token stats + stopword ratio + a deterministic
        // composite score. All arithmetic — fully codegen'd, no shuffle.
        val toks = tokens(col("text"))
        docs(s, dir)
          .select(col("doc_id"), col("text"), toks.as("t"))
          .select(
            col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            round(
              aggregate(col("t"), lit(0.0), (acc, x) => acc + length(x)) / size(col("t")),
              4).as("avg_token_len"),
            round(
              size(filter(col("t"), x => array_contains(stopArray, x))).cast("double") / size(col("t")),
              4).as("stopword_ratio"),
            round(
              size(array_distinct(col("t"))).cast("double") / size(col("t")),
              4).as("distinct_ratio"),
            round(
              length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
                length(col("text")), 4).as("punct_ratio"),
            // composite: longer, less-stopwordy, more-diverse docs score
            // higher — the deterministic stand-in for a quality model
            round(log(lit(1.0) + size(col("t"))) *
              (lit(1.0) - size(filter(col("t"), x => array_contains(stopArray, x)))
                .cast("double") / size(col("t"))) *
              (size(array_distinct(col("t"))).cast("double") / size(col("t"))), 4)
              .as("quality_score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, text,
              |                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
              |           FROM documents)
              |SELECT doc_id,
              |       CAST(len(tk) AS BIGINT) AS n_tokens,
              |       round(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk), 4) AS avg_token_len,
              |       round(len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) * 1.0 / len(tk), 4) AS stopword_ratio,
              |       round(len(list_distinct(tk)) * 1.0 / len(tk), 4) AS distinct_ratio,
              |       round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio,
              |       round(ln(1.0 + len(tk)) *
              |             (1.0 - len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) * 1.0 / len(tk)) *
              |             (len(list_distinct(tk)) * 1.0 / len(tk)), 4) AS quality_score
              |FROM t ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_langid",
      (s, dir) => {
        // Heuristic language-ID: stopword-hit count over the token set —
        // the n-gram/stopword family of heuristics, deterministic and
        // SQL-expressible so the oracle can replicate it.
        val toks = tokens(col("text"))
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            size(filter(toks, x => array_contains(stopArray, x))).as("hits"),
            size(toks).as("n"))
          .select(col("doc_id"), col("lang"),
            when(col("hits").cast("double") / col("n") >= 0.1, "en")
              .otherwise("other").as("pred"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
              |                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
              |           FROM documents)
              |SELECT doc_id, lang,
              |       CASE WHEN len(list_filter(tk, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) * 1.0 / len(tk) >= 0.1
              |            THEN 'en' ELSE 'other' END AS pred
              |FROM t ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_langid_ngram",
      (s, dir) => {
        // Char-n-gram language-ID: score each doc's character trigrams
        // against a fixed English-trigram profile; classify on the hit
        // ratio. The n-gram-profile family (Cavnar-Trenkle) reduced to a
        // deterministic, oracle-replayable core.
        val profile = Seq("the", "ing", "and", "ion", "ent", "er ", "he ",
          " th", "at ", "es ", " an", "ta ")
        // hits per trigram as a codegen replace-count: occurrences(p) =
        // (length(text) - length(replace(text, p))) / 3. Equal to the
        // window-filter count because no profile trigram has a proper
        // border (prefix = suffix), so its matches can never overlap —
        // the materialize-every-window + interpreted 12-way IN filter
        // this replaces measured 5.8 s at sf0.1; this form 0.4 s.
        // Σ diffs is an exact multiple of 3 → `div 3` is exact, and the
        // final double division is the same IEEE op as the HOF form's.
        val hitExpr = profile
          .map(p => s"(length(text) - length(replace(text, '$p')))")
          .mkString(" + ")
        docs(s, dir)
          .where(length(col("text")) >= 3)
          .select(col("doc_id"),
            (expr(s"cast(($hitExpr) div 3 as double)") /
              (length(col("text")) - 2)).as("hit_ratio"))
          .select(col("doc_id"), round(col("hit_ratio"), 4).as("hit_ratio"),
            when(col("hit_ratio") >= 0.05, "en").otherwise("other").as("pred"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |                  [substring(text, i, 3) for i in range(1, length(text) - 1)] AS tg
              |           FROM documents WHERE length(text) >= 3),
              |  r AS (SELECT doc_id,
              |               len(list_filter(tg, x -> x IN ('the','ing','and','ion','ent','er ','he ',' th','at ','es ',' an','ta '))) * 1.0
              |                 / len(tg) AS hit_ratio
              |        FROM t)
              |SELECT doc_id, round(hit_ratio, 4) AS hit_ratio,
              |       CASE WHEN hit_ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred
              |FROM r ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_bigrams",
      (s, dir) => {
        // Top-20 word bigrams: per-row ngram expansion (no shuffle) →
        // hash aggregate → top-k. The explode multiplies rows ~16× here;
        // at 100 TB the partial aggregation keeps the exchange bounded by
        // |distinct bigrams| per task.
        val toks = tokens(col("text"))
        docs(s, dir)
          .select(explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("bigram"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     p AS (SELECT unnest([tk[i] || ' ' || tk[i + 1] for i in range(1, len(tk))]) AS bigram
             |           FROM t)
             |SELECT bigram, count(*) AS cnt FROM p
             |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin),
      bench = true),

    GQuery(
      "text_token_bpe",
      (s, dir) => {
        // BPE-ish token counting: regex pre-tokenization (letter runs,
        // digit runs, single other glyphs) — the standard pre-pass before
        // byte-pair merges; deterministic and engine-portable.
        docs(s, dir)
          .select(col("doc_id"),
            size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
              .cast("long").as("n_subtokens"),
            size(expr("array_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"))
              .cast("long").as("n_distinct"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subtokens,
             |       CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_distinct
             |FROM documents ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_bpe_merges",
      (s, dir) => {
        // The FIRST BPE merge step: corpus-wide adjacent character-pair
        // counts within words, top 20 — the argmax that byte-pair
        // encoding iterates to induce a tokenizer vocabulary. Pair
        // expansion is a per-word projection (sequence + substring, no
        // join); the only shuffle is the pair-count aggregate, map-side
        // combined to |distinct pairs| per task (≤ alphabet², tiny).
        // Words of length 1 have no pairs and are filtered BEFORE
        // sequence(1, len-1), which would otherwise descend.
        docs(s, dir)
          .select(explode(tokens(col("text"))).as("w"))
          .where(length(col("w")) >= 2)
          .select(explode(
            expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
          .groupBy("pair")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("pair"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
             |           FROM documents),
             |     p AS (SELECT unnest([substring(w, i, 2) for i in range(1, len(w))]) AS pair
             |           FROM w WHERE len(w) >= 2)
             |SELECT pair, count(*)::BIGINT AS cnt
             |FROM p GROUP BY pair
             |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),

    GQuery(
      "text_winnow_fingerprint",
      (s, dir) => {
        // Winnowing (rolling-hash family) document fingerprinting:
        // hash every 8-char gram, keep the minimum of each 4-gram
        // sliding window, dedupe — the classic local fingerprint set
        // that survives insertions/reorderings, unlike a whole-doc md5.
        // Gram hashes use the md5-derived portable hash so the oracle
        // reproduces them bit-for-bit; a production deployment would
        // swap in a true O(n) Rabin-Karp rolling recurrence as a custom
        // Expression (same selected positions, cheaper per char).
        docs(s, dir)
          .where(length(col("text")) >= 11)
          // per-gram md5 via the fused kernel — bit-identical to the
          // conv(substring(md5(...))) HOF form the oracle replays,
          // without per-element hex strings or interpreted lambdas
          .select(col("doc_id"),
            graft.functions.Md5GramHashes.md5_gram_hashes("text", 8).as("hs"))
          // window-min selection via the O(n) monotonic-deque codegen
          // expression — the minima are value-identical to the per-
          // position array_min(slice) HOF, so the oracle is unaffected
          .select(col("doc_id"),
            array_sort(array_distinct(
              graft.functions.WindowMin.window_min("hs", 4))).as("fp"))
          .select(col("doc_id"),
            size(col("fp")).cast("long").as("n_fp"),
            md5(concat_ws(",", expr("transform(fp, x -> cast(x as string))")).cast("binary"))
              .as("fp_digest"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |                  [('0x' || substring(md5(substring(text, i, 8)), 1, 8))::BIGINT
             |                   for i in range(1, length(text) - 8 + 2)] AS hs
             |           FROM documents WHERE length(text) >= 11),
             |  sel AS (SELECT doc_id,
             |                 list_sort(list_distinct([list_min(hs[j : j+3])
             |                                          for j in range(1, len(hs) - 4 + 2)])) AS fp
             |          FROM h)
             |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
             |       md5(array_to_string(fp, ',')) AS fp_digest
             |FROM sel ORDER BY doc_id""".stripMargin)),

    GQuery(
      "text_winnow_fast",
      (s, dir) => {
        // Production winnowing path: same window-min selection as
        // text_winnow_fingerprint but gram hashes come from the O(n)
        // RollingHashGrams expression (Rabin-Karp recurrence) instead of
        // per-gram md5 — ~k× less hashing work per document. FULLY
        // oracle-checked (round 6): the rolling hash is the k-gram
        // polynomial Σ byte·B^(k-1-j) mod 2^64, which DuckDB replays
        // bit-for-bit with HUGEINT arithmetic on the inlined B-power
        // constants (see rollingHashOracle; ASCII fixtures keep byte
        // and codepoint windows aligned — guarded by TextOpsSpec's
        // ascii-fixture test). The expression is additionally
        // equivalence-tested against a brute-force reference.
        docs(s, dir)
          .where(length(col("text")) >= 11)
          .select(col("doc_id"),
            graft.functions.RollingHashGrams.rolling_hash_grams("text", 8).as("hs"))
          .select(col("doc_id"),
            array_sort(array_distinct(
              graft.functions.WindowMin.window_min("hs", 4))).as("fp"))
          .select(col("doc_id"),
            size(col("fp")).cast("long").as("n_fp"),
            md5(concat_ws(",", expr("transform(fp, x -> cast(x as string))")).cast("binary"))
              .as("fp_digest"))
          .orderBy("doc_id")
      },
      Some(rollingHashOracle(k = 8, win = 4))),

    GQuery(
      "text_fingerprint",
      (s, dir) => {
        // Document fingerprinting: content hash (md5) raw + normalized.
        // md5 is bit-identical across engines → exact oracle parity.
        docs(s, dir)
          .select(col("doc_id"),
            md5(col("text").cast("binary")).as("fp"),
            md5(lower(trim(col("text"))).cast("binary")).as("fp_norm"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(text) AS fp, md5(lower(trim(text))) AS fp_norm
             |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
