package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over `documents` (SURVEY.md §2B):
  * exact (hash-groupBy), n-gram Jaccard via inverted index, MinHash+LSH,
  * SimHash banding.
  *
  * Scale design: nothing here ever materializes the O(N²) pair space.
  *  - exact dedup: one hash aggregate on the content fingerprint;
  *  - Jaccard: inverted-index self-join on shared shingles — pairs are
  *    generated only for documents that share at least one shingle, and
  *    hot shingles can be capped (stopword-shingle blacklist) at real
  *    scale;
  *  - MinHash/LSH: candidate pairs only within equal (band, bandhash)
  *    buckets — N·bands rows shuffled, never N²;
  *  - SimHash: 32-bit portable signature, banded into 4×8-bit keys →
  *    bucket join catches all pairs within Hamming distance 3.
  */
object DedupOps {

  /** Word shingles (n-gram strings) of the document text, distinct. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextOps.ngrams(TextOps.tokens(text), n))

  /** Deterministic 32-bit hash of a string with a seed, identical across
    * runs/engines-with-md5: first 8 hex chars of md5(seed:s) as a long.
    * (Engine-portable — DuckDB can compute the same expression, which is
    * what makes the MinHash signatures oracle-checkable in principle.)
    */
  def portableHash(s: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), s).cast("binary")), 1, 8), 16, 10).cast("long")

  /** Modulus of the universal-hash family: the smallest prime > 2^32. */
  val MinhashP = 4294967311L

  /** Plan-time affine coefficients (a_i, b_i) of hash family
    * h_i(x) = (a_i·h(x) + b_i) mod [[MinhashP]] — derived from md5 so
    * they are deterministic, and INLINED AS LITERALS into both the
    * Spark plan and the DuckDB oracle (the srpSigns convention).
    * a_i < 2^31 keeps a·h below 2^63: no overflow in either engine.
    */
  def minhashCoef(i: Int): (Long, Long) = {
    def md5Long(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    (md5Long(s"mh_a:$i") % ((1L << 31) - 1) + 1, md5Long(s"mh_b:$i") % MinhashP)
  }

  /** MinHash signatures via ONE portable md5 base hash per gram plus
    * `k` affine rehashes (a_i·h + b_i) mod p — the standard universal-
    * hashing construction. The direct form pays k md5s per gram (k·|sh|
    * string builds + digests — measured 16 s at sf0.1 for k=32);
    * this one pays |sh| md5s and 31 integer ops each, AND runs fully
    * codegen (explode → projection → groupBy min, no interpreted
    * HOF lambdas anywhere): measured 16 s → ~2 s. Returns
    * `(doc_id, sig: array<long>)`.
    */
  def minhashSigs(withSh: DataFrame, k: Int): DataFrame = {
    val g = withSh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), portableHash(col("s"), 0).as("h"))
    val mins = (0 until k).map { i =>
      val (a, b) = minhashCoef(i)
      min((lit(a) * col("h") + lit(b)) % lit(MinhashP)).as(s"m$i")
    }
    g.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** DuckDB CTEs reproducing [[minhashSigs]] bit-for-bit (appended
    * after a CTE `sh(doc_id, sg)`): the same base md5 hash and the
    * same inlined affine coefficients.
    */
  def minhashSigCtes(k: Int): String = {
    val entries = (0 until k).map { i =>
      val (a, b) = minhashCoef(i)
      s"list_min([($a * h + $b) % $MinhashP for h in hv])"
    }.mkString(",\n                  ")
    s"""  hv AS (SELECT doc_id, sg,
       |               [('0x' || substring(md5('0:' || s), 1, 8))::BIGINT for s in sg] AS hv
       |         FROM sh),
       |  sig AS (SELECT doc_id, sg,
       |                 [$entries] AS mh
       |          FROM hv)""".stripMargin
  }

  /** PRODUCTION MinHash+LSH pairs: identical pipeline shape to
    * [[minhashLshPairs]] but with xxhash64 seeds over the
    * [[graft.functions.WordGramHashes]] kernel hashes — no gram strings,
    * no md5. ~50× cheaper signatures than the portable-md5 form, which
    * exists to be bit-reproducible in the DuckDB oracle; this is the
    * variant a 100 TB corpus runs (DedupScaleSpec stresses it on a
    * synthesized 40× corpus with planted near-dups).
    */
  def minhashLshPairsFast(d: DataFrame, n: Int, k: Int, bands: Int, minJ: Double): DataFrame = {
    require(k % bands == 0)
    val rows = k / bands
    val withSh = d.select(col("doc_id"),
        graft.functions.WordGramHashes.word_gram_hashes("text", n).as("sh"))
      .where(size(col("sh")) > 0)
    val sig = array((0 until k).map(i =>
      array_min(transform(col("sh"), x => xxhash64(lit(i), x)))): _*)
    val banded = withSh
      .select(col("doc_id"), col("sh"), sig.as("sig"))
      .select(col("doc_id"), col("sh"), explode(array((0 until bands).map { b =>
        concat(lit(s"$b:"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).cast("string"))
      }: _*)).as("bk"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  /** LSH band keys: signature split into `bands` bands of `rows` hashes,
    * each hashed to one bucket key string "band:md5(...)".
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      concat(lit(s"$b:"), md5(concat_ws("_",
        slice(sig, b * rows + 1, rows).cast("array<string>")).cast("binary")))
    }: _*)

  /** 32-bit SimHash from a column of token-hash arrays (`hs`): for each
    * bit position, majority vote across token hashes. Expressed as a SQL
    * higher-order fold (shiftright/shiftleft take column operands in SQL
    * but not in the Scala DSL). 32 bits (not 64) because the token
    * hashes are the PORTABLE md5-derived 32-bit [[portableHash]] — which
    * makes signatures, bands, and candidate pairs bit-reproducible in
    * DuckDB, turning SimHash from a rows-only check into a full
    * differential oracle.
    */
  val simhashFromHashes: Column = expr(
    """aggregate(sequence(0, 31), 0L,
      |  (acc, bit) -> acc + if(
      |     size(filter(hs, h -> (shiftright(h, bit) & 1) = 1)) * 2 > size(hs),
      |     shiftleft(1L, bit), 0L))""".stripMargin)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** Exact Jaccard pairs over distinct word-3-shingles via inverted-index
    * join; emits (doc_a < doc_b, jaccard) with jaccard >= minJ.
    */
  def jaccardPairs(d: DataFrame, n: Int, minJ: Double): DataFrame = {
    // Inverted-index rows carry their document's shingle-set size, so the
    // pair aggregate yields |∩| AND both |set| sizes in one shuffle — no
    // post-aggregation joins back to a sizes table. The join key is the
    // 64-bit hash of the shingle, not the string: 8-byte shuffle/sort
    // keys instead of ~30-byte strings (collision odds at 10^9 distinct
    // shingles are ~1e-1·2^-34 per pair count — immaterial to a count).
    // Shingle hashes come from the one-pass WordGramHashes kernel (no
    // gram strings are ever built); empty-gram docs need no filter —
    // explode drops them, so the kernel runs exactly once per side.
    // NOTE: the self-join recomputes the shingle pipeline for both sides;
    // materializing it first (localCheckpoint) was measured SLOWER here —
    // the tokenize+shingle compute is cheaper than writing/reading the
    // materialized index. Recompute wins. Also measured slower (~2×): a
    // join-free form that groups the inverted index per shingle and
    // explodes i<j combinations via nested higher-order transforms —
    // collect_list + per-row array construction loses to the
    // shuffle-hash probe stream even though it saves one exchange.
    // A .cache() of the shingle arrays was ~10% faster only once the
    // cache was already hot — not worth the executor-memory footprint
    // (caching corpus shingles is exactly what does NOT scale to 100 TB).
    val inv = d.select(col("doc_id"),
        graft.functions.WordGramHashes.word_gram_hashes("text", n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("sg"))
    // shuffle-hash beats sort-merge here: the probe stream (the pair
    // explosion) is much larger than the build side's distinct keys, so
    // skipping the sort of both 260k-row sides wins ~2× on the join.
    // Measured no-win (round 9): dropping (na, nb) from the pair groupBy
    // and broadcast-joining a sizes table onto the aggregated counts —
    // the restructure that won 11% on graph_neighbor_jaccard_capped —
    // is SLOWER here (warm-min 0.73 s carry vs 0.85 s post-join, sf0.1
    // local[32], min of 5): this pair set is small relative to its
    // explosion, so two extra join stages cost more than the narrower
    // shuffle key saves. The wins diverge because neighbor-Jaccard
    // aggregates 24.5M pairs into 18.5M groups (key width dominates)
    // while this aggregates a few hundred k into a few k (stage count
    // dominates).
    inv.as("a").hint("shuffle_hash").join(inv.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  /** [[jaccardPairs]] with a HOT-GRAM CAP: grams whose document
    * frequency exceeds `maxDf` are dropped from every document's
    * shingle set BEFORE the posting-list self-join, and the Jaccard is
    * exact over the pruned universe (sizes recomputed post-prune, so
    * no pair's denominator counts a dropped gram).
    *
    * WHY: the uncapped form's worst case is one viral boilerplate
    * shingle ("all rights reserved …") shared by f·N documents — its
    * posting list alone explodes into (f·N)² candidate pairs through
    * ONE join key, the single scale-killer of inverted-index Jaccard
    * at 100 TB. The cap bounds every posting list at `maxDf`, so the
    * candidate space is ≤ Σ min(df, maxDf)² — linear in the corpus for
    * fixed maxDf — while near-dup RECALL survives because a gram
    * carried by >maxDf docs has, by that very ubiquity, ~zero
    * discriminative weight in any pair's Jaccard (it inflates both
    * the intersection and the union of every hot pair equally).
    * `dedup_ngram_jaccard_capped` makes that argument measurable: it
    * full-outer-joins capped vs uncapped pairs at the same threshold,
    * and the DuckDB oracle recomputes BOTH sides — a dropped true pair
    * shows as in_capped=false and fails the hash if the engines ever
    * disagree. (On the test corpus the cap costs zero pairs at every
    * scale factor: 28/28, 25/25, 260/260.)
    *
    * Shape: the heavy-hitter set (≤ total-postings/maxDf rows — tiny
    * by construction) is BROADCAST anti-joined onto the inverted
    * index; the pruned index is re-aggregated per doc (one exchange on
    * doc_id) to carry exact post-prune sizes through the same
    * carry-the-size pair aggregate as [[jaccardPairs]]. The gram
    * pipeline is recomputed for the DF pass and the prune pass —
    * the same recompute-beats-materialize measurement as the uncapped
    * form. A sizes-table join instead of the re-aggregate was one
    * more exchange (both join sides shuffle on doc_id vs one groupBy).
    */
  def jaccardPairsCapped(d: DataFrame, n: Int, minJ: Double, maxDf: Long): DataFrame = {
    val inv0 = d.select(col("doc_id"),
      explode(graft.functions.WordGramHashes.word_gram_hashes("text", n)).as("sg"))
    val hot = inv0.groupBy("sg").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("sg")
    val pruned = inv0.join(broadcast(hot), Seq("sg"), "left_anti")
      .groupBy("doc_id").agg(collect_list(col("sg")).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("sg"))
    pruned.as("a").hint("shuffle_hash").join(pruned.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  /** The LSH BAND INDEX of a corpus: `(doc_id, sh, bk)` — one row per
    * (document, band bucket), shingle set carried for the exact-verify
    * stage. This is the frame a production deployment PERSISTS (bucketed
    * by `bk`) so later delta batches can probe it without recomputing
    * signatures over the corpus — see [[minhashLshPairsIncremental]].
    */
  def lshBandIndex(d: DataFrame, n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0)
    val rows = k / bands
    val withSh = d.select(col("doc_id"), shingles(col("text"), n).as("sh"))
      .where(size(col("sh")) > 0)
    withSh
      .join(minhashSigs(withSh, k), "doc_id")
      .select(col("doc_id"), col("sh"), explode(lshBandKeys(col("sig"), bands, rows)).as("bk"))
  }

  /** MinHash+LSH candidate pairs, verified with exact Jaccard — the
    * standard scale path (banding prunes, exact check confirms).
    */
  def minhashLshPairs(d: DataFrame, n: Int, k: Int, bands: Int, minJ: Double): DataFrame = {
    val banded = lshBandIndex(d, n, k, bands)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  /** INCREMENTAL MinHash+LSH — the workflow a growing 100 TB corpus
    * actually runs: near-dup pairs involving a NEW batch of documents,
    * computed against the stored band index of the existing corpus
    * WITHOUT ever enumerating old×old candidates.
    *
    * `baseIndex` is the persisted [[lshBandIndex]] of the corpus so far;
    * `delta` is the raw new batch. The probe joins the delta's band rows
    * against (stored ∪ delta) band rows, so candidate enumeration costs
    * O(|delta| · bands · bucket occupancy) — INDEPENDENT of the base
    * pair space. The result is provably the full-corpus LSH pair set
    * restricted to pairs touching the delta (both sides band with the
    * same signature family, and a pair collides iff it shares a band
    * key — the same condition the full run uses), so maintaining
    * "pairs so far" across batches reproduces exactly what a from-
    * scratch run over the grown corpus would emit. After the run,
    * `lshBandIndex(delta)` (already computed here) is appended to the
    * stored index — the index is maintained incrementally too.
    *
    * Emits `(doc_a < doc_b, jaccard, delta_side)` where `delta_side`
    * says whether the pair is delta×delta (`both`) or delta×base.
    */
  def minhashLshPairsIncremental(baseIndex: DataFrame, delta: DataFrame,
      n: Int, k: Int, bands: Int, minJ: Double): DataFrame = {
    val deltaB = lshBandIndex(delta, n, k, bands)
      .withColumn("is_delta", lit(true))
    val allB = baseIndex.withColumn("is_delta", lit(false))
      .unionByName(deltaB)
    // delta probes the union: delta×base and delta×delta collide here,
    // base×base never does. Canonicalize to doc_a < doc_b (delta×delta
    // pairs arrive in both orientations; dropDuplicates collapses them
    // along with multi-band collisions).
    val aLess = col("a.doc_id") < col("b.doc_id")
    val cands = deltaB.as("a").join(allB.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        when(aLess, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
        when(aLess, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
        when(aLess, col("a.sh")).otherwise(col("b.sh")).as("sh_a"),
        when(aLess, col("b.sh")).otherwise(col("a.sh")).as("sh_b"),
        (col("a.is_delta") && col("b.is_delta")).as("both_delta"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"),
        when(col("both_delta"), lit("delta_delta"))
          .otherwise(lit("delta_base")).as("pair_kind"))
      .where(col("jaccard") >= minJ)
  }

  /** SimHash near-dup candidates: 4 bands of 8 bits over the 32-bit
    * signature; any pair within Hamming distance 3 shares >= 1 exact band.
    * Emits candidate pairs with their Hamming distance <= maxHamming.
    */
  def simhashPairs(d: DataFrame, maxHamming: Int): DataFrame = {
    // fused SimHash32 kernel: value-identical to the per-token md5
    // transform + 32-round majority fold (kept above as
    // simhashFromHashes, the direct-definition reference), one
    // compiled pass instead of ~4k interpreted lambdas per doc
    val sigs = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), graft.functions.SimHash32.simhash32("tk").as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b:"), (shiftright(col("sig"), b * 8).bitwiseAND(0xFFL)).cast("string"))): _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").bitwiseXOR(col("b.sig")).as("x"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), expr("bit_count(x)").cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash near-dup candidates: two independent 32-bit
    * majority signatures (seeds 0 and 1) make a 64-bit signature,
    * banded as 4×16-bit keys; any pair within Hamming distance 3 over
    * the 64 bits shares ≥ 1 exact band (pigeonhole), so the result is
    * complete for the wide signature, like [[simhashPairs]] is for the
    * narrow one.
    *
    * THE SCALE FIX for the 32-bit form, whose 4×8-bit bands give only
    * 1024 bucket keys total: bucket membership grows linearly with the
    * corpus, so in-bucket candidate pairs grow QUADRATICALLY — measured
    * 24× wall-clock at 10× documents (SCALE.md round-12 wave), the
    * classic fixed-band-width failure. 16-bit bands hold 65,536 keys
    * each, keeping sf1 buckets near-singleton; the general rule is band
    * bits ≈ log2(corpus) + margin, and composing seeded 32-bit halves
    * makes signature width a parameter instead of a ceiling (a 1e9-doc
    * corpus wants 128-bit signatures → 4×32-bit bands).
    */
  def simhashPairsWide(d: DataFrame, maxHamming: Int): DataFrame = {
    val sigs = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        graft.functions.SimHash32.simhash32s("tk", 0).as("lo"),
        graft.functions.SimHash32.simhash32s("tk", 1).as("hi"))
    val banded = sigs.select(col("doc_id"), col("lo"), col("hi"),
      explode(array(
        concat(lit("0:"), col("lo").bitwiseAND(0xFFFFL).cast("string")),
        concat(lit("1:"), shiftright(col("lo"), 16).bitwiseAND(0xFFFFL).cast("string")),
        concat(lit("2:"), col("hi").bitwiseAND(0xFFFFL).cast("string")),
        concat(lit("3:"), shiftright(col("hi"), 16).bitwiseAND(0xFFFFL).cast("string"))))
        .as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.lo").bitwiseXOR(col("b.lo")).as("xl"),
        col("a.hi").bitwiseXOR(col("b.hi")).as("xh"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (expr("bit_count(xl)") + expr("bit_count(xh)")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Number of seeded 32-bit signature halves for [[simhashPairsScaled]]:
    * the smallest width whose 4 byte-per-half band keys (256^halves keys
    * per band) keep expected bucket occupancy ≤ 4 docs, capped at 4
    * halves (128-bit signatures, 32-bit bands — near-singleton buckets
    * past 10^10 docs; beyond that raise the cap, the seeds make width a
    * parameter). Integer threshold comparisons, exact in both engines.
    * Steps: ≤1,024 docs → 1 half; ≤262,144 → 2; ≤67,108,864 → 3; else 4.
    */
  def simhashHalves(n: Long): Int =
    if (n <= 4L * 256) 1
    else if (n <= 4L * 65536) 2
    else if (n <= 4L * 16777216) 3
    else 4

  /** SimHash near-dup candidates with the signature width SCALED TO THE
    * CORPUS — the production form whose fixed-width siblings the
    * round-12 wave measured saturating: any fixed band width is a fixed
    * bucket-key cardinality, so bucket membership grows linearly with
    * the corpus and in-bucket candidate pairs quadratically (the 32-bit
    * form measured 24× wall-clock at 10× docs; the 64-bit form fixes
    * exactly one decade and then re-creates the same defect — the rule
    * its own scaladoc states, band bits ≈ log2(corpus) + margin, was
    * hard-coded). Here [[simhashHalves]] picks the number of seeded
    * 32-bit halves from count(*), so band keys stay ahead of the corpus
    * and candidates stay ~linear.
    *
    * Band b's key is byte b OF EACH half (bits partition across the 4
    * bands whatever the width), so ≤ maxHamming=3 differing bits leave
    * ≥ 1 band identical — pigeonhole-COMPLETE at every width, like the
    * fixed forms; at 1 half the buckets are bit-for-bit
    * [[simhashPairs]]'s (a law test pins this). Width changes the
    * SEMANTICS deliberately: hamming ≤ 3 over more bits is a stricter
    * near-identity — precision grows with the corpus, which is the
    * behavior a dedup gate wants (32-bit signatures over 10^8 docs pair
    * unrelated texts by birthday collision alone). The oracle replays
    * the width from count(*) with the same integer thresholds; unused
    * halves are zero for every doc there, so its constant ':0' key
    * suffixes and zero hamming terms cancel exactly.
    */
  def simhashPairsScaled(d: DataFrame, maxHamming: Int): DataFrame = {
    val nh = simhashHalves(d.count())
    val sigs = d
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id") +: (0 until nh).map(s =>
        graft.functions.SimHash32.simhash32s("tk", s).as(s"h$s")): _*)
    val banded = sigs.withColumn("bk", explode(array((0 until 4).map { b =>
      concat(lit(s"$b") +: (0 until nh).flatMap { s =>
        Seq(lit(":"),
          shiftright(col(s"h$s"), b * 8).bitwiseAND(0xFFL).cast("string"))
      }: _*)
    }: _*)))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        (0 until nh).map(s =>
          col(s"a.h$s").bitwiseXOR(col(s"b.h$s")).as(s"x$s")): _*)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (0 until nh).map(s => expr(s"bit_count(x$s)"))
          .reduce(_ + _).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Prefix-filtered exact Jaccard (AllPairs/SSJoin-style): under a
    * global (frequency, hash) shingle order, any pair with J >= minJ must
    * share an element within each side's first |x| - ceil(minJ*|x|) + 1
    * shingles — so only PREFIX shingles enter the inverted index, and the
    * full (sorted, hashed) sets ride along for exact verification via
    * array_intersect. At high thresholds the prefix is a small fraction
    * of the set, collapsing the candidate space the plain inverted-index
    * join would generate. (At minJ <= ~0.2 prefixes approach the full set
    * — use [[jaccardPairs]] there.)
    */
  def prefixFilteredJaccardPairs(d: DataFrame, n: Int, minJ: Double): DataFrame = {
    val hashed = d.select(col("doc_id"),
        array_distinct(transform(shingles(col("text"), n), s => xxhash64(s))).as("sh"))
      .where(size(col("sh")) > 0)
    val inv = hashed.select(col("doc_id"), explode(col("sh")).as("sg"))
    val freq = inv.groupBy("sg").agg(count(lit(1)).as("freq"))
    // order each doc's shingles rarest-first, keep the prefix
    // NOTE (measured, sf0.1): carrying the sorted_sh arrays through the
    // candidate join IS the fastest form here. Both "obvious" rewrites
    // lose: an eager localCheckpoint of `ordered` pays materialization
    // serially before the join (6.4 s vs 3.8 s), and the skinny-join +
    // array-join-back pattern adds two more recomputes of the freq-sort
    // pipeline plus two shuffles (6.7 s). At 100 TB `ordered` is a
    // persisted signature table and the trade flips to the skinny join.
    val ordered = inv.join(freq, "sg")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("freq"), col("sg")))).as("osh"))
      .select(col("doc_id"),
        transform(col("osh"), x => x.getField("sg")).as("sorted_sh"),
        size(col("osh")).as("n_sh"))
      .withColumn("prefix",
        slice(col("sorted_sh"), lit(1),
          (col("n_sh") - ceil(col("n_sh") * minJ) + 1).cast("int")))
    val probe = ordered.select(col("doc_id"), col("sorted_sh"), col("n_sh"),
      explode(col("prefix")).as("sg"))
    probe.as("a").hint("shuffle_hash").join(probe.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sorted_sh").as("sha"), col("b.sorted_sh").as("shb"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          (col("na") + col("nb") - size(array_intersect(col("sha"), col("shb"))))).as("jaccard"))
      .where(col("jaccard") >= minJ)
  }

  /** Connected components over a pair list by iterative min-label
    * propagation (converges in graph-diameter rounds; lineage cut with
    * localCheckpoint each round). Near-dup graphs are forests of tiny
    * cliques, so diameter is small; a 100 TB deployment would swap in
    * large-star/small-star for the same fixpoint in O(log d) rounds.
    * Returns (node, cluster = min reachable node id).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val bidir = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b"), col("doc_a")))
      .distinct().localCheckpoint()
    var labels = bidir.select(col("src").as("node")).distinct()
      .withColumn("cluster", col("node")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbor = bidir.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("cluster"))
      val next = labels.union(viaNeighbor)
        .groupBy("node").agg(min("cluster").as("cluster"))
        .localCheckpoint()
      changed = next.as("n").join(labels.as("o"), "node")
        .where(col("n.cluster") =!= col("o.cluster")).count()
      labels = next
      iter += 1
    }
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public algorithm): each round rewires every node's
    * neighbors to the minimum of its closed neighborhood, halving tree
    * heights, so convergence is O(log diameter) rounds instead of the
    * O(diameter) of min-label propagation — the upgrade that matters on
    * long-chain graphs. Each round is two groupBy-join passes over the
    * edge list; lineage cut per round with localCheckpoint.
    * Returns (node, cluster = component minimum), same contract as
    * [[connectedComponents]] (spec-gated equivalent).
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    def pass(e: DataFrame, large: Boolean): DataFrame = {
      // closed-neighborhood minimum per node over the bidirected edges
      val bidir = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val m = bidir.groupBy("src")
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      val joined = bidir.join(m, "src")
      val rewired =
        if (large) joined.where(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
        else joined.where(col("dst") <= col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(m.select(col("src"), col("m").as("dst")))
      rewired.where(col("src") =!= col("dst")).distinct()
    }
    var e = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    var iter = 0
    var stable = false
    while (!stable && iter < maxIter) {
      val next = pass(pass(e, large = true), large = false).localCheckpoint()
      stable = next.count() == e.count() &&
        next.except(e).isEmpty
      e = next
      iter += 1
    }
    // converged: every edge points node -> component min (a star);
    // roots map to themselves
    val nodes = edges.select(col("doc_a").as("node"))
      .union(edges.select(col("doc_b"))).distinct()
    val labels = e.groupBy(col("src").as("node")).agg(min("dst").as("cluster"))
    nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "dedup_exact",
      (s, dir) => {
        // Exact dedup by content fingerprint: single hash aggregate —
        // the latest-wins dedup (#7) generalized to arbitrary payloads.
        docs(s, dir)
          .select(col("doc_id"), md5(concat_ws("|", col("lang"), col("text")).cast("binary")).as("fp"))
          .groupBy("fp")
          .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
          .orderBy("fp")
      },
      Some("""SELECT md5(lang || '|' || text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
             |FROM documents GROUP BY fp ORDER BY fp""".stripMargin)),

    GQuery(
      "dedup_ngram_jaccard",
      (s, dir) => {
        jaccardPairs(docs(s, dir), n = 3, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     sh AS (SELECT doc_id,
             |                   list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                  for i in range(1, len(tk) - 1)]) AS sg
             |            FROM t WHERE len(tk) >= 3),
             |     inv AS (SELECT doc_id, unnest(sg) AS g FROM sh),
             |     sz AS (SELECT doc_id, len(sg) AS n_sh FROM sh),
             |     pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |               FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |               GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 4) AS jaccard
             |FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
             |WHERE inter * 1.0 / (x.n_sh + y.n_sh - inter) >= 0.1
             |ORDER BY doc_a, doc_b""".stripMargin),
      bench = true),

    GQuery(
      "dedup_ngram_jaccard_capped",
      (s, dir) => {
        // HOT-GRAM CAP differential (see jaccardPairsCapped's scaladoc
        // for the 100 TB argument): capped and uncapped pair sets at
        // the same threshold, full-outer-joined so recall is visible
        // PER PAIR — a pair the cap loses shows as in_capped=false,
        // and the oracle recomputes both sides, so engine disagreement
        // on either algorithm fails the hash. The cap scales with the
        // corpus (0.4% of docs, floor 6): a fixed absolute cap either
        // never fires at large N or shreds sets at small N — measured
        // here: cap 6 at sf0.1 pruned 80% of grams and manufactured
        // 16k noise pairs from tiny survivor sets; 0.4%·N prunes 59 of
        // 27k grams and costs zero pairs.
        val d = docs(s, dir)
        // floor on BOTH sides: DuckDB's CAST(double AS BIGINT) rounds
        // to nearest while Scala's .toLong truncates — pinning both to
        // floor keeps the caps identical at every corpus size
        val cap = math.max(6L, math.floor(0.004 * d.count()).toLong)
        val capped = jaccardPairsCapped(d, n = 3, minJ = 0.1, maxDf = cap)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("j_c"))
        val full = jaccardPairs(d, n = 3, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("j_u"))
        capped.join(full, Seq("doc_a", "doc_b"), "full_outer")
          .select(col("doc_a"), col("doc_b"),
            coalesce(col("j_u"), col("j_c")).as("jaccard"),
            col("j_c").isNotNull.as("in_capped"),
            col("j_u").isNotNull.as("in_uncapped"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |  inv AS (SELECT doc_id, unnest(sg) AS g FROM sh),
             |  hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM inv GROUP BY g)
             |          WHERE df > (SELECT greatest(6, CAST(floor(0.004 * count(*)) AS BIGINT)) FROM documents)),
             |  pinv AS (SELECT i.doc_id, i.g FROM inv i ANTI JOIN hot h ON i.g = h.g),
             |  psz AS (SELECT doc_id, count(*) AS n FROM pinv GROUP BY doc_id),
             |  cpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |             FROM pinv a JOIN pinv b ON a.g = b.g AND a.doc_id < b.doc_id
             |             GROUP BY 1, 2),
             |  cj AS (SELECT doc_a, doc_b,
             |                round(inter * 1.0 / (x.n + y.n - inter), 4) AS j_c
             |         FROM cpairs JOIN psz x ON doc_a = x.doc_id JOIN psz y ON doc_b = y.doc_id
             |         WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.1),
             |  usz AS (SELECT doc_id, len(sg) AS n FROM sh),
             |  upairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |             FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |             GROUP BY 1, 2),
             |  uj AS (SELECT doc_a, doc_b,
             |                round(inter * 1.0 / (x.n + y.n - inter), 4) AS j_u
             |         FROM upairs JOIN usz x ON doc_a = x.doc_id JOIN usz y ON doc_b = y.doc_id
             |         WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.1)
             |SELECT coalesce(cj.doc_a, uj.doc_a) AS doc_a,
             |       coalesce(cj.doc_b, uj.doc_b) AS doc_b,
             |       coalesce(j_u, j_c) AS jaccard,
             |       cj.doc_a IS NOT NULL AS in_capped,
             |       uj.doc_a IS NOT NULL AS in_uncapped
             |FROM cj FULL OUTER JOIN uj ON cj.doc_a = uj.doc_a AND cj.doc_b = uj.doc_b
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_minhash_fast",
      (s, dir) => {
        // broadcast_exploded fixture entry: the banded signature frame
        // auto-broadcasts ONLY at the sf0.001 audit — the documents
        // relation's size estimate includes the fat text column, so it
        // exceeds the broadcast threshold from sf0.01 up and the
        // banded self-join plans its natural shuffle join at every
        // real corpus (measured healthy through sf1->sf10x, SCALE.md
        // r13 wave).
        // The PRODUCTION MinHash+LSH path (xxhash64 signatures over the
        // WordGramHashes kernel — no gram strings, no md5): the variant
        // a 100 TB corpus actually runs, ~10× faster than the portable
        // md5 form registered as dedup_minhash_lsh. xxhash64 has no
        // DuckDB twin, so the registered form is the AGREEMENT query:
        // the fast pairs full-outer-join their portable siblings and
        // the driver hash-verifies that both hash families surface the
        // same exact-Jaccard-confirmed pair set (oracle = the portable
        // pair list expecting in_fast AND in_portable everywhere; any
        // one-sided pair changes the row set and fails the gate).
        // DedupScaleSpec additionally gates planted-near-dup recall on
        // a 40× synthesized corpus. Production calls
        // minhashLshPairsFast alone.
        val fast = minhashLshPairsFast(docs(s, dir), n = 3, k = 32, bands = 8, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("j_f"))
        val portable = minhashLshPairs(docs(s, dir), n = 3, k = 32, bands = 8, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("j_p"))
        fast.join(portable, Seq("doc_a", "doc_b"), "full_outer")
          .select(col("doc_a"), col("doc_b"),
            coalesce(col("j_p"), col("j_f")).as("jaccard"),
            col("j_f").isNotNull.as("in_fast"),
            col("j_p").isNotNull.as("in_portable"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |${minhashSigCtes(32)},
             |  banded AS (SELECT doc_id, sg,
             |                    unnest([b || ':' || md5(array_to_string(mh[b*4+1 : b*4+4], '_'))
             |                            for b in range(0, 8)]) AS bk
             |             FROM sig),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.sg AS sa, b.sg AS sb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |       round(len(list_intersect(sa, sb)) * 1.0 /
             |             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard,
             |       true AS in_fast, true AS in_portable
             |FROM cand
             |WHERE len(list_intersect(sa, sb)) * 1.0 /
             |      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.1
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_minhash_lsh",
      (s, dir) => {
        // broadcast_exploded fixture entry: same audit-SF-only
        // auto-broadcast as dedup_minhash_fast (text column keeps the
        // documents estimate over threshold at real SFs).
        // MinHash(32 hashes) + LSH(8 bands × 4) candidates, exact-Jaccard
        // verified at >= 0.1. FULLY oracle-checked: one md5-derived base
        // hash per gram + 32 inlined affine rehashes (minhashSigs) make
        // the signatures, band keys, and therefore the candidate set
        // bit-identical in DuckDB. ScalaTest additionally gates recall
        // against exact-Jaccard truth.
        minhashLshPairs(docs(s, dir), n = 3, k = 32, bands = 8, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |${minhashSigCtes(32)},
             |  banded AS (SELECT doc_id, sg,
             |                    unnest([b || ':' || md5(array_to_string(mh[b*4+1 : b*4+4], '_'))
             |                            for b in range(0, 8)]) AS bk
             |             FROM sig),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.sg AS sa, b.sg AS sb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |       round(len(list_intersect(sa, sb)) * 1.0 /
             |             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard
             |FROM cand
             |WHERE len(list_intersect(sa, sb)) * 1.0 /
             |      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.1
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_incremental_lsh",
      (s, dir) => {
        // broadcast_exploded fixture entry: same audit-SF-only
        // auto-broadcast as dedup_minhash_fast.
        // INCREMENTAL dedup: documents with doc_id % 8 == 0 are the
        // newly-arrived batch, the rest are the existing corpus whose
        // band index is already stored. The incremental run probes the
        // stored index with the delta only — old×old candidates are
        // never enumerated — and must emit EXACTLY the full-corpus LSH
        // pair set restricted to pairs touching the delta, which is what
        // the oracle computes (the dedup_minhash_lsh replay with the
        // delta-touching filter). Any over- or under-enumeration of the
        // incremental probe fails the hash compare.
        val d = docs(s, dir)
        val base = d.where(col("doc_id") % 8 =!= 0)
        val delta = d.where(col("doc_id") % 8 === 0)
        minhashLshPairsIncremental(
            lshBandIndex(base, n = 3, k = 32, bands = 8), delta,
            n = 3, k = 32, bands = 8, minJ = 0.1)
          .select(col("doc_a"), col("doc_b"),
            round(col("jaccard"), 4).as("jaccard"), col("pair_kind"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |${minhashSigCtes(32)},
             |  banded AS (SELECT doc_id, sg,
             |                    unnest([b || ':' || md5(array_to_string(mh[b*4+1 : b*4+4], '_'))
             |                            for b in range(0, 8)]) AS bk
             |             FROM sig),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.sg AS sa, b.sg AS sb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
             |           WHERE a.doc_id % 8 = 0 OR b.doc_id % 8 = 0)
             |SELECT doc_a, doc_b,
             |       round(len(list_intersect(sa, sb)) * 1.0 /
             |             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard,
             |       CASE WHEN doc_a % 8 = 0 AND doc_b % 8 = 0 THEN 'delta_delta'
             |            ELSE 'delta_base' END AS pair_kind
             |FROM cand
             |WHERE len(list_intersect(sa, sb)) * 1.0 /
             |      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.1
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_cross_source_matrix",
      (s, dir) => {
        // CROSS-SOURCE CONTAMINATION MATRIX: for every pair of sources,
        // how many distinct document PREFIX fingerprints (first 16
        // tokens — the RefinedWeb-style near-dup key text_prefix_dedup
        // already uses) they share — the diagnostic that tells a corpus
        // curator which subsets copy from which (mirror sites,
        // re-crawls, dataset overlap) before mixing weights are chosen.
        // Inverted-index self-join on the fingerprint over DISTINCT
        // (fp, source) rows — the jaccardPairs shape with sources as
        // the documents — so cost is bounded by per-fingerprint source
        // fan-out (≤ |sources|), never corpus².
        val fs = docs(s, dir)
          .select(md5(array_join(slice(TextOps.tokens(col("text")), 1, 16), " ")
            .cast("binary")).as("fp"), col("source"))
          .distinct()
        fs.as("a").join(fs.as("b"),
            col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared_fps"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH fs AS (SELECT DISTINCT
             |              md5(array_to_string(
             |                (list_filter(string_split(text, ' '), x -> x <> ''))[1:16],
             |                ' ')) AS fp,
             |              source
             |            FROM documents)
             |SELECT a.source AS src_a, b.source AS src_b,
             |       CAST(count(*) AS BIGINT) AS n_shared_fps
             |FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),

    GQuery(
      "dedup_simhash",
      (s, dir) => {
        // FULLY oracle-checked (round 2): portable md5 token hashes make
        // the 32-bit majority signature, the 4×8-bit band keys, and the
        // candidate pairs bit-identical in DuckDB. maxHamming = 3 is the
        // band guarantee: 4 bands of 8 bits catch EVERY pair within
        // Hamming distance 3 (pigeonhole), so the result is the complete
        // answer, not a sample.
        simhashPairs(docs(s, dir), maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  h AS (SELECT doc_id,
             |               [('0x' || substring(md5('0:' || x), 1, 8))::BIGINT for x in tk] AS hs
             |        FROM t),
             |  sg AS (SELECT doc_id,
             |                list_sum([CASE WHEN 2 * len(list_filter(hs, h -> ((h >> bit) & 1) = 1)) > len(hs)
             |                               THEN (1::BIGINT << bit) ELSE 0 END
             |                          for bit in range(0, 32)])::BIGINT AS sig
             |         FROM h),
             |  banded AS (SELECT doc_id, sig,
             |                    unnest([b || ':' || ((sig >> (b * 8)) & 255)
             |                            for b in range(0, 4)]) AS bk
             |             FROM sg),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.sig AS sa, b.sig AS sb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_simhash_wide",
      (s, dir) => {
        // The 64-bit/16-bit-band production form of dedup_simhash (see
        // simhashPairsWide's scaladoc for the measured 24×-at-10×
        // saturation of the 32-bit form's 1024 band keys). Fully
        // oracle-checked: both seeded signature halves, the 4×16-bit
        // band keys, candidate pairs and the combined Hamming distance
        // replay bit-identically in DuckDB.
        simhashPairsWide(docs(s, dir), maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  h AS (SELECT doc_id,
             |               [('0x' || substring(md5('0:' || x), 1, 8))::BIGINT for x in tk] AS h0,
             |               [('0x' || substring(md5('1:' || x), 1, 8))::BIGINT for x in tk] AS h1
             |        FROM t),
             |  sg AS (SELECT doc_id,
             |                list_sum([CASE WHEN 2 * len(list_filter(h0, h -> ((h >> bit) & 1) = 1)) > len(h0)
             |                               THEN (1::BIGINT << bit) ELSE 0 END
             |                          for bit in range(0, 32)])::BIGINT AS lo,
             |                list_sum([CASE WHEN 2 * len(list_filter(h1, h -> ((h >> bit) & 1) = 1)) > len(h1)
             |                               THEN (1::BIGINT << bit) ELSE 0 END
             |                          for bit in range(0, 32)])::BIGINT AS hi
             |         FROM h),
             |  banded AS (SELECT doc_id, lo, hi,
             |                    unnest(['0:' || (lo & 65535), '1:' || ((lo >> 16) & 65535),
             |                            '2:' || (hi & 65535), '3:' || ((hi >> 16) & 65535)]) AS bk
             |             FROM sg),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.lo AS la, a.hi AS ha, b.lo AS lb, b.hi AS hb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |       CAST(bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(la, lb)) + bit_count(xor(ha, hb)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_simhash_scaled",
      (s, dir) => {
        // The ADAPTIVE-WIDTH production form of dedup_simhash /
        // dedup_simhash_wide: signature width (number of seeded 32-bit
        // halves) chosen from count(*) so band-key cardinality stays
        // ahead of the corpus — each fixed-width form re-creates the
        // measured quadratic exactly one decade later (see
        // simhashPairsScaled's scaladoc). Pigeonhole-complete for
        // Hamming <= 3 at every width; the oracle recomputes the width
        // with the same integer thresholds, computing unused halves as
        // zero so its key suffixes and hamming terms cancel exactly.
        simhashPairsScaled(docs(s, dir), maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |  ns AS (SELECT CASE WHEN count(*) <= 1024 THEN 1
             |                     WHEN count(*) <= 262144 THEN 2
             |                     WHEN count(*) <= 67108864 THEN 3 ELSE 4 END AS nh
             |         FROM documents),
             |  hm AS (SELECT doc_id,
             |           [('0x' || substring(md5('0:' || x), 1, 8))::BIGINT for x in tk] AS g0,
             |           CASE WHEN (SELECT nh FROM ns) >= 2
             |                THEN [('0x' || substring(md5('1:' || x), 1, 8))::BIGINT for x in tk]
             |                ELSE []::BIGINT[] END AS g1,
             |           CASE WHEN (SELECT nh FROM ns) >= 3
             |                THEN [('0x' || substring(md5('2:' || x), 1, 8))::BIGINT for x in tk]
             |                ELSE []::BIGINT[] END AS g2,
             |           CASE WHEN (SELECT nh FROM ns) >= 4
             |                THEN [('0x' || substring(md5('3:' || x), 1, 8))::BIGINT for x in tk]
             |                ELSE []::BIGINT[] END AS g3
             |         FROM t),
             |  sg AS (SELECT doc_id,
             |           list_sum([CASE WHEN 2 * len(list_filter(g0, h -> ((h >> bit) & 1) = 1)) > len(g0)
             |                          THEN (1::BIGINT << bit) ELSE 0 END
             |                     for bit in range(0, 32)])::BIGINT AS h0,
             |           list_sum([CASE WHEN 2 * len(list_filter(g1, h -> ((h >> bit) & 1) = 1)) > len(g1)
             |                          THEN (1::BIGINT << bit) ELSE 0 END
             |                     for bit in range(0, 32)])::BIGINT AS h1,
             |           list_sum([CASE WHEN 2 * len(list_filter(g2, h -> ((h >> bit) & 1) = 1)) > len(g2)
             |                          THEN (1::BIGINT << bit) ELSE 0 END
             |                     for bit in range(0, 32)])::BIGINT AS h2,
             |           list_sum([CASE WHEN 2 * len(list_filter(g3, h -> ((h >> bit) & 1) = 1)) > len(g3)
             |                          THEN (1::BIGINT << bit) ELSE 0 END
             |                     for bit in range(0, 32)])::BIGINT AS h3
             |         FROM hm),
             |  banded AS (SELECT doc_id, h0, h1, h2, h3,
             |                    unnest([b || ':' || ((h0 >> (b * 8)) & 255)
             |                              || ':' || ((h1 >> (b * 8)) & 255)
             |                              || ':' || ((h2 >> (b * 8)) & 255)
             |                              || ':' || ((h3 >> (b * 8)) & 255)
             |                            for b in range(0, 4)]) AS bk
             |             FROM sg),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.h0 AS a0, a.h1 AS a1, a.h2 AS a2, a.h3 AS a3,
             |                  b.h0 AS b0, b.h1 AS b1, b.h2 AS b2, b.h3 AS b3
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b,
             |       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
             |            bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) +
             |      bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_edit_distance",
      (s, dir) => {
        // Edit-distance (Levenshtein) fuzzy matching for value
        // canonicalization: CANONICALIZE first (exact groupBy collapses
        // the 2000 parts to their 64 distinct names, carrying counts),
        // then fuzzy-join the distinct values blocked on the last token.
        // The two-stage shape is the scale design: the expensive O(len²)
        // distance only ever runs on distinct-value pairs inside a
        // block, never on raw rows — the O(N²) pair space is cut first
        // by exact dedup, then by blocking.
        val names = Tables.t(s, dir, "part")
          .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
          .withColumn("blk", substring_index(col("p_name"), " ", -1))
        names.as("a").join(names.as("b"),
            col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
          .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
            col("a.n_parts").as("n_a"), col("b.n_parts").as("n_b"),
            levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
          .where(col("dist") <= 4)
          .orderBy("name_a", "name_b")
      },
      Some("""WITH names AS (SELECT p_name, count(*) AS n_parts,
             |                      split_part(p_name, ' ', -1) AS blk
             |               FROM part GROUP BY p_name)
             |SELECT a.p_name AS name_a, b.p_name AS name_b,
             |       a.n_parts AS n_a, b.n_parts AS n_b,
             |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
             |WHERE levenshtein(a.p_name, b.p_name) <= 4
             |ORDER BY name_a, name_b""".stripMargin)),

    GQuery(
      "dedup_jaccard_prefix",
      (s, dir) => {
        // Exact Jaccard >= 0.5 via prefix filtering — same answer as the
        // plain inverted-index join, far fewer candidates at scale.
        prefixFilteredJaccardPairs(docs(s, dir), n = 3, minJ = 0.5)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents),
             |     sh AS (SELECT doc_id,
             |                   list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                  for i in range(1, len(tk) - 1)]) AS sg
             |            FROM t WHERE len(tk) >= 3),
             |     inv AS (SELECT doc_id, unnest(sg) AS g FROM sh),
             |     sz AS (SELECT doc_id, len(sg) AS n_sh FROM sh),
             |     pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |               FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |               GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |       round(inter * 1.0 / (x.n_sh + y.n_sh - inter), 4) AS jaccard
             |FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
             |WHERE inter * 1.0 / (x.n_sh + y.n_sh - inter) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    GQuery(
      "dedup_clusters_lss",
      (s, dir) => {
        // Same clustering as dedup_clusters, computed by the
        // LARGE-STAR/SMALL-STAR fixpoint (O(log diameter) rounds) and
        // checked against the SAME recursive-CTE oracle — the proof the
        // scale algorithm is semantics-identical to min-label
        // propagation.
        connectedComponentsStar(jaccardPairs(docs(s, dir), n = 3, minJ = 0.5))
          .orderBy("node")
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
             |    SELECT bd.b, r.label FROM reach r JOIN bidir bd ON bd.a = r.node)
             |SELECT node, min(label) AS cluster FROM reach GROUP BY node
             |ORDER BY node""".stripMargin)),

    GQuery(
      "dedup_lsh_clusters",
      (s, dir) => {
        // The PRODUCTION dedup path end-to-end in one plan: MinHash
        // signatures → LSH band buckets → candidate pairs → exact-Jaccard
        // verify at 0.5 → connected components → canonical representative
        // per cluster. Oracle replays every stage (portable md5 hashes)
        // including the fixpoint, so the whole path is hash-checked, not
        // just its pieces. At 100 TB only the banded candidates (N·bands
        // rows) ever shuffle — the O(N²) pair space is never touched.
        connectedComponents(
          minhashLshPairs(docs(s, dir), n = 3, k = 32, bands = 8, minJ = 0.5))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE
             |  t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |        FROM documents),
             |  sh AS (SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             |                                       for i in range(1, len(tk) - 1)]) AS sg
             |         FROM t WHERE len(tk) >= 3),
             |${minhashSigCtes(32)},
             |  banded AS (SELECT doc_id, sg,
             |                    unnest([b || ':' || md5(array_to_string(mh[b*4+1 : b*4+4], '_'))
             |                            for b in range(0, 8)]) AS bk
             |             FROM sig),
             |  cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                  a.sg AS sa, b.sg AS sb
             |           FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
             |  edges AS (SELECT doc_a, doc_b FROM cand
             |            WHERE len(list_intersect(sa, sb)) * 1.0 /
             |                  (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5),
             |  bidir AS (SELECT doc_a AS a, doc_b AS b FROM edges
             |            UNION SELECT doc_b, doc_a FROM edges),
             |  reach(node, label) AS (
             |    SELECT a, a FROM bidir
             |    UNION
             |    SELECT bd.b, r.label FROM reach r JOIN bidir bd ON bd.a = r.node)
             |SELECT node, min(label) AS cluster FROM reach GROUP BY node
             |ORDER BY node""".stripMargin)),

    GQuery(
      "dedup_clusters",
      (s, dir) => {
        // Near-dup CLUSTERS: connected components over the J>=0.5 pair
        // graph; each doc maps to the min doc_id of its component — the
        // canonical-representative step of corpus dedup.
        connectedComponents(jaccardPairs(docs(s, dir), n = 3, minJ = 0.5))
          .orderBy("node")
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
             |    SELECT bd.b, r.label FROM reach r JOIN bidir bd ON bd.a = r.node)
             |SELECT node, min(label) AS cluster FROM reach GROUP BY node
             |ORDER BY node""".stripMargin))
  )
}
