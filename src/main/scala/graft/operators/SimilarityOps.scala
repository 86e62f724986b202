package graft.operators

import graft.{GQuery, Tables}
import graft.functions.{CosineSimilarity, SrpSignBits}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.GraftDataset

/** Similarity search over the `embeddings` table (SURVEY.md §2B):
  * brute-force cosine top-k as the exact baseline, plus a random-
  * hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Vector math is done with higher-order array functions (`zip_with` +
  * `aggregate`) over `array<double>` — codegen'd, no UDFs. Arrays are cast
  * float→double BEFORE any arithmetic so the oracle (DuckDB `::DOUBLE[]`)
  * computes bit-identical IEEE sums in the same element order.
  */
object SimilarityOps {

  /** Sequential dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("em"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * The query side is expected to be small (a probe set) → broadcast;
    * the corpus streams through one pass, each task keeping only its
    * partial pairs, and the window top-k shuffles |corpus|×|queries|
    * rows at worst — prune with `minScore` to bound it at scale.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("em").as("qe")))
    val c = corpus.select(col("vec_id"), col("em"))
    val scored = c.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "em").as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Binary-quantization ANN: 64 sign bits per vector packed into two
    * 32-bit code halves (BIGINT-safe in Spark AND DuckDB — one 64-bit
    * word would need 2⁶³ and overflow the signed oracle arithmetic),
    * XOR+popcount Hamming candidate scan over the 8-byte codes, exact
    * cosine rerank of the `shortlist` closest. The code table is 64×
    * smaller than the vectors; at 100 TB only the rerank touches full
    * precision (join back by id instead of carrying `em` through, as
    * here at probe-set scale).
    */
  def binaryHammingTopK(queries: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int): DataFrame = {
    def half(from: Int): Column = expr(
      s"""aggregate(sequence(0, 31), 0L,
         |  (acc, d) -> acc + IF(em[d + $from] > 0,
         |                       CAST(pow(2.0, d) AS LONG), 0L))""".stripMargin)
    // codes only — `em` feeds the packing expressions and is pruned
    // BEFORE anything moves, so the Hamming scan and its shortlist
    // window shuffle 3 scalar columns, never the float arrays (the
    // whole point of the 64×-smaller sign-bit codes; carrying the
    // vectors through the candidate exchange would move N×Q full
    // embeddings and defeat the quantization)
    def coded(df: DataFrame) = df.select(col("vec_id"),
      half(0).as("lo"), half(32).as("hi"))
    val q = broadcast(coded(queries).select(col("vec_id").as("qid"),
      col("lo").as("qlo"), col("hi").as("qhi")))
    val survivors = coded(corpus).join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("qlo").bitwiseXOR(col("lo"))) +
          bit_count(col("qhi").bitwiseXOR(col("hi")))).as("hd"))
      .withColumn("rn_h", row_number().over(
        Window.partitionBy("qid").orderBy(asc("hd"), asc("vec_id"))))
      .where(col("rn_h") <= shortlist)
      .select("qid", "vec_id")
    // full-precision rerank for the Q×shortlist survivors ONLY: the
    // tiny survivor list is broadcast so the corpus embeddings stream
    // through a hash join in place (no corpus shuffle), and the query
    // vectors broadcast by qid; the final top-k window then exchanges
    // survivor-count narrow rows
    val qe = broadcast(queries.select(col("vec_id").as("qid"),
      col("em").as("qe")))
    broadcast(survivors)
      .join(corpus.select(col("vec_id"), col("em")), Seq("vec_id"))
      .join(qe, Seq("qid"))
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "em").as("score"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id")))
        .cast("long"))
      .where(col("rn") <= k)
  }

  /** True iff NO shuffle exchange anywhere in `df`'s physical plan
    * outputs an array-typed column — the code-narrow discipline the
    * quantized ANN queries exist to demonstrate, asserted on the real
    * plan (broadcast exchanges are exempt: a probe-set of query
    * vectors is legitimately broadcast in full precision). The
    * traversal — which descends into AQE-wrapped subplans, unlike a
    * bare `TreeNode.collect` — is shared with the registry-wide lint
    * ([[graft.PlanLint.anyWideShuffle]]) so the two checks can't drift.
    */
  def shufflesAreArrayFree(df: DataFrame): Boolean =
    !graft.PlanLint.anyWideShuffle(df.queryExecution.executedPlan)

  /** Deterministic Rademacher ±1 sign vector for portable-SRP plane
    * `plane`: sign of dim d is the parity of MD5("srp:plane:d")'s first
    * byte. Computed at plan-BUILD time and inlined as literals into both
    * the Spark plan and the DuckDB oracle SQL, so the two engines bucket
    * bit-identically with zero runtime hashing.
    */
  def srpSigns(plane: Int, dims: Int): Seq[Double] =
    (0 until dims).map { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"srp:$plane:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }

  /** SRP-bucketed candidate pairs (va < vb), the scale-path pair source:
    * `tables` independent hash tables of `planes` sign bits each; a pair
    * is a candidate iff it collides in ANY table. The join is a bucket
    * EQUI-join — N·tables rows shuffle, never the N² row product of the
    * all-pairs form (which survives only as the ScalaTest truth side).
    * Keys come from [[srpKeyed]], whose per-plane dot products are
    * bit-identical to DuckDB `list_inner_product`, so the oracle
    * reproduces the buckets exactly. At 100 TB, `planes` grows with
    * log(n) to keep buckets bounded; at the test SFs, 3×16 measures
    * recall ≥ 0.95 vs exact truth at cosine ≥ 0.4 (1.0 at sf0.01).
    */
  def srpCandidatePairs(e: DataFrame, planes: Int, tables: Int, dims: Int): DataFrame = {
    val keyed = srpKeyed(e, planes, tables, dims, stride = planes)
    keyed.as("a").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()
  }

  /** SRP candidates thresholded INSIDE the join condition: the cosine
    * evaluates while the pair is still virtual, so only threshold
    * SURVIVORS ever materialize a joined row (a post-join score column
    * materializes every candidate WITH both vectors first — measured
    * 10× slower at sf0.1 — and a pre-score distinct pays the full
    * candidate-multiset exchange). Survivors are re-scored in the
    * projection (tiny) and deduped across tables last; duplicate rows
    * are bit-identical so the late dropDuplicates is deterministic.
    */
  def srpPairsAbove(e: DataFrame, planes: Int, tables: Int, dims: Int,
      thresh: Double): DataFrame = {
    val keyed = srpKeyed(e, planes, tables, dims, stride = planes)
    keyed.as("a").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id") &&
          CosineSimilarity.cosine_sim("a.em", "b.em") >= thresh)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        CosineSimilarity.cosine_sim("a.em", "b.em").as("score"))
      .dropDuplicates("va", "vb")
  }

  /** Max plane budget for the ADAPTIVE SRP key: every scaled key is the
    * first `planes` bits of a [[SrpMaxPlanes]]-bit-per-table key, so the
    * oracle can inline one fixed sign-literal set and cut the key at a
    * width COMPUTED FROM count(*) — a static SQL string replaying a
    * data-dependent parameter.
    */
  val SrpMaxPlanes = 12

  /** Adaptive plane count: one more key bit per corpus doubling past
    * ~250 vectors/bucket-budget, floored at 3 and capped at
    * [[SrpMaxPlanes]]. Integer-exact in BOTH engines — the width is
    * `2 + len(binary(N div 250))`, never floor(log2(x)) (libm log2 at
    * exact powers of two can land on 2.9999… in one engine and 3.0 in
    * the other, flipping the floor — the round-11 lesson about libm).
    */
  def srpScaledPlanes(n: Long): Int = {
    val m = math.max(n / 250, 1L)
    math.min(SrpMaxPlanes, math.max(3, 2 + java.lang.Long.toBinaryString(m).length))
  }

  /** Uncapped adaptive plane count — the shared width rule: one key bit
    * per corpus doubling past the ~250-vectors/bucket budget, floored
    * at 3. Integer-exact in both engines (`2 + binlen(n div 250)`,
    * never a libm log2 — the round-11 lesson).
    */
  def srpPlanesUncapped(n: Long): Int = {
    val m = math.max(n / 250, 1L)
    math.max(3, 2 + java.lang.Long.toBinaryString(m).length)
  }

  /** Sign-index STRIDE of the GROWN adaptive SRP key layout: table t's
    * bit pp reads sign vector t·64+pp. The stride is deliberately
    * DECOUPLED from the plane cap ([[SrpGrownPlaneCap]] = 36 < 64): the
    * r13 cap-12 layout used the cap itself as the stride (`t·12+pp`),
    * so lifting that cap was a key-versioning change — the exact defect
    * shape the r13 verdict flagged. With 64 reserved sign slots per
    * table, any future cap raise up to 64 is a one-constant bump whose
    * keys (and therefore the count(*)-replaying oracles) stay valid.
    */
  val SrpStride = 64

  /** GROWN plane cap: binds at 250·2^34 ≈ 4.3e12 vectors ≈ 1.1 PB of
    * raw fp32×64-dim — an order of magnitude past the 100 TB operating
    * point (4e11 vectors → uncapped width 33), where the r13 cap (12 →
    * 256k vectors) bound 2× past the measured corpus. Raising further
    * is a constant bump (stride headroom to 64 — see [[SrpStride]]).
    */
  val SrpGrownPlaneCap = 36

  /** GROWN table cap and base: tables grow 2 per plane past width 12,
    * `nt = min(56, 16 + 2·max(0, npu−12))`, capping at npu 32
    * (≈ 2.7e11 vectors). The (planes, tables) LSH cost-model trade:
    * each extra plane multiplies per-table collision of a
    * similarity-s pair by (1 − acos(s)/π), so at the cap (33 planes)
    * the near-dup regime keeps per-table recall 0.986^33 ≈ 0.62 →
    * 56-table union ≈ 1−0.377^56 ≈ 1, while the moderate regime
    * (s=0.95, per-plane 0.899 → per-table 0.03) is lifted by the table
    * growth from a 16-table union of 0.38 to a 56-table union of 0.81.
    * Work stays linear: 33×56 ≈ 1.8k dot products/vector at 4e11
    * vectors vs the quadratic in-bucket blowup a frozen width buys.
    */
  val SrpGrownTableCap = 56

  /** Base table count shared by the fixed, cap-12, and grown forms. */
  val SrpBaseTables = 16

  /** Grown adaptive plane count: [[srpPlanesUncapped]] capped at
    * [[SrpGrownPlaneCap]].
    */
  def srpGrownPlanes(n: Long): Int =
    math.min(SrpGrownPlaneCap, srpPlanesUncapped(n))

  /** Grown adaptive table count — grows with the UNCAPPED width so
    * recall keeps improving even once the plane cap binds (more tables
    * never shrink buckets, but they raise the collision union).
    */
  def srpGrownTables(n: Long): Int =
    math.min(SrpGrownTableCap,
      SrpBaseTables + 2 * math.max(0, srpPlanesUncapped(n) - 12))

  /** At least the session's default parallelism behind `df`. The
    * in-bucket cosine stages are COMPUTE-dense but BYTE-light: a
    * one-file mid-size corpus reads as a single-partition scan
    * (< maxPartitionBytes), and every downstream cosine then runs on
    * one thread — measured 2.4× on the r14 sf1 leg (the 20k-vector
    * table is one 8 MB file). A no-op whenever the scan already has
    * ≥ default parallelism — any real-scale table — so the extra
    * round-robin exchange exists only where it is trivially small by
    * construction (few partitions ⇒ bounded bytes).
    */
  private def parallelized(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** (input columns, `em` as array<float>, bk) with one row per (vector,
    * hash table): the one SRP keying path. Table t's bit pp reads sign
    * vector t·`stride`+pp ([[srpSigns]]), so keys agree with the sign
    * literals the layout's oracle inlines: the fixed 3×16 forms pass
    * stride = planes, the cap-12 witnesses [[SrpMaxPlanes]], the grown
    * forms [[SrpStride]].
    *
    * The key is ONE BIGINT — table id in the high bits (<<40), sign bits
    * in the low 40 — computed per table by the fused
    * [[graft.functions.SrpSignBits]] kernel. The oracles build
    * `'0'/'1'` string keys instead; (table, sign bits) → key is a
    * bijection in both encodings and results depend only on bucket
    * EQUALITY, so every candidate set, score and oracle hash is the same
    * by construction. What the long key buys is the physics of the one
    * spill-bound term, the N·tables bucket exchange and its SMJ sort: 8
    * fixed bytes per UnsafeRow instead of a padded string, and a pure
    * 8-byte-prefix radix sort (OPTIMIZATION_r18.md). The kernel loops
    * over a reference-object sign matrix, so its generated method stays
    * at 2.7-3.6 K bytecodes and JITs from 12:16 to 15:22 (SCALE.md r19
    * KeyDump rows).
    *
    * `em` leaves as array<float> — the FLOAT32 TRANSIT. The embeddings
    * table stores `list<float>` and the scan merely widens it to double,
    * so double→float→double is the identity on every value the engine
    * ships, and the cast halves the payload of the bucket exchange
    * (SCALE.md third-decade decomposition: 16.6 GB shuffle / 29.5 GB
    * spill at 1.28M vectors under float64). The sign bits are computed
    * from the double column BEFORE the cast, and
    * [[graft.functions.CosineSimilarity]] widens float elements back to
    * double in its kernel — bit-identical buckets and scores. For a
    * caller whose doubles are NOT float-originated the cast would be an
    * fp32 quantization of the SCORING input (keying is unquantized
    * either way); no such caller exists in this repo.
    */
  def srpKeyed(e: DataFrame, planes: Int, tables: Int, dims: Int, stride: Int): DataFrame = {
    // Past these caps table ids would collide with sign bits, or tables
    // would share sign vectors — fail loudly instead of merging buckets.
    // SrpSignBits itself rejects planes outside [1, 40].
    require(planes <= stride,
      s"srpKeyed: planes=$planes exceeds stride=$stride — tables would share sign vectors")
    require(tables >= 1 && tables < (1 << 23),
      s"srpKeyed: tables=$tables out of [1, 2^23) — the packed bigint key stores the table id at <<40")
    val outCols = e.columns.map {
      case "em" => col("em").cast("array<float>").as("em")
      case c => col(c)
    }
    val keyCols = (0 until tables).map { t =>
      val flat = (0 until planes).flatMap(pp => srpSigns(t * stride + pp, dims))
      GraftDataset.column(SrpSignBits(
        GraftDataset.expr(col("em")), t.toLong << 40, planes, dims, flat))
    }
    e.select(outCols :+ explode(array(keyCols: _*)).as("bk"): _*)
  }

  /** An ADAPTIVE SRP key layout: the width rule (corpus size → planes,
    * tables) and the sign stride its oracle inlines.
    */
  final case class SrpLayout(planes: Long => Int, tables: Long => Int, stride: Int) {
    /** [[srpKeyed]] at the widths this layout picks for `e`'s row count
      * — the one count() job every adaptive form runs at plan build.
      */
    def keyed(e: DataFrame, dims: Int): DataFrame = {
      val n = e.count()
      srpKeyed(parallelized(e), planes(n), tables(n), dims, stride)
    }
  }

  /** The GROWN layout, production: [[srpGrownPlanes]] ×
    * [[srpGrownTables]] on the versioned [[SrpStride]].
    */
  val SrpGrown: SrpLayout = SrpLayout(srpGrownPlanes, srpGrownTables, SrpStride)

  /** The r13 cap-12 layout, kept as the `_cap12` regression witnesses:
    * [[srpScaledPlanes]] × [[SrpBaseTables]], cap-as-stride. Its cap
    * binds at 256k vectors, which is why production moved to
    * [[SrpGrown]]; below that the widths agree and only the sign
    * vectors differ.
    */
  val SrpCap12: SrpLayout = SrpLayout(srpScaledPlanes, _ => SrpBaseTables, SrpMaxPlanes)

  /** Portable-SRP ANN top-k: directed bucket candidates (qid, vec_id),
    * exact cosine rerank, per-qid window top-k. Same bucketing contract
    * as [[srpCandidatePairs]] — the inlined sign literals replay in the
    * DuckDB oracle, so this form is hash-verified end-to-end, not just
    * recall-gated.
    */
  def annTopKPortable(d: DataFrame, k: Int, planes: Int, tables: Int, dims: Int): DataFrame = {
    val e = d.select(col("vec_id"), col("em"))
    val keyed = srpKeyed(e, planes, tables, dims, stride = planes)
    // project to bare ids IMMEDIATELY: no threshold exists to evaluate
    // inside the join (top-k), so the join output must stay narrow — a
    // post-join score column would materialize every candidate with both
    // 64-dim vectors attached (measured 10× slower at sf0.1). The skinny
    // deduped candidate set then re-acquires vectors via two broadcast
    // join-backs for the exact rerank.
    val cands = keyed.as("a").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"))
      .distinct()
    val scored = cands
      .join(broadcast(e.select(col("vec_id").as("qid"), col("em").as("qe"))), "qid")
      .join(broadcast(e.select(col("vec_id"), col("em").as("ce"))), "vec_id")
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "ce").as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long")).where(col("rn") <= k)
  }

  /** SRP pairs above `thresh` with the plane count SCALED TO THE CORPUS
    * — the production pair form on [[SrpGrown]], and with [[SrpCap12]]
    * the r13 regression witness. Fixed planes are the same
    * fixed-cardinality-blocking defect the round-12 wave measured in
    * dedup_simhash and string_jaro_winkler: 3 planes × 16 tables is 128
    * bucket keys FOREVER, so bucket membership grows linearly with the
    * corpus and in-bucket candidate pairs quadratically (measured 125×
    * wall-clock at 10× vectors). One extra key bit per corpus doubling
    * keeps expected bucket size constant, so candidates grow ~linearly;
    * the LSH trade is per-table recall shrinking polynomially — high-
    * similarity pairs (the near-dup regime both registered thresholds
    * target) keep per-table collision ≥ (cos⁻¹-complement)^planes and
    * survive the table union; borderline pairs lose recall, which the
    * planted-pair spec gates. The grown layout lifts the plane cap from
    * 12 to 36 (binds ≈ 1.1 PB, not 256k vectors), grows tables 2 per
    * plane past width 12 (recall compensation per the (planes, tables)
    * LSH cost model — see [[SrpGrownTableCap]]), and keys on the
    * versioned [[SrpStride]] so future cap raises don't re-key.
    */
  def srpPairsAboveGrown(e: DataFrame, dims: Int, thresh: Double,
      layout: SrpLayout = SrpGrown): DataFrame = {
    val keyed = layout.keyed(e, dims)
    keyed.as("a").hint("merge").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id") &&
          CosineSimilarity.cosine_sim("a.em", "b.em") >= thresh)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        CosineSimilarity.cosine_sim("a.em", "b.em").as("score"))
      .dropDuplicates("va", "vb")
  }

  /** [[annTopKPortable]] with the plane count SCALED TO THE CORPUS — the
    * production SRP top-k form on [[SrpGrown]], and with [[SrpCap12]]
    * the r13 regression witness. The fixed 3×16 form's 128 bucket keys
    * forever DNF'd the sf1 cold pass at 35 min (~400M-row candidate
    * distinct); one key bit per corpus doubling keeps expected bucket
    * size ~constant, so the candidate multiset grows ~linearly (at 20k
    * vectors: 9 planes → ~39/bucket → ~12M directed candidates vs the
    * fixed form's ~800M). Near-identical neighbors (the regime ANN
    * dedup/retrieval targets) survive the table union with probability
    * ≈ 1 — gated on planted jitter siblings at the LIVE adaptive width
    * in SimilarityScaleSpec.
    *
    * The exact cosine is computed IN THE BUCKET JOIN, where both
    * vectors are already co-located — not by re-acquiring them
    * afterwards. The r13 "shuffle join-back" rerank (skinny candidate
    * ids re-join the corpus by qid then by vec_id) sounded scale-safe
    * but the second id-keyed exchange carries the just-acquired query
    * vector with every candidate row: at 320k vectors that is ~225M rows
    * × ~512B ≈ 120 GB of shuffle, which KILLED the r14 sf16x wave on
    * disk — the same array-through-shuffle class the wide_shuffles lint
    * exists for, reachable only at scale because small SFs
    * auto-broadcast the corpus side. Scoring in the bucket join moves
    * the arrays exactly once (the N·tables bucket-key exchange, same as
    * [[srpPairsAboveGrown]]); everything downstream — duplicate collapse
    * across tables, the per-qid top-k window — is 3 skinny scalar
    * columns. Scoring the pre-distinct multiset costs ≤ tables redundant
    * cosines per true pair, linear work that replaces a
    * quadratically-sized exchange; duplicates are bit-identical so the
    * dropDuplicates stays deterministic and the oracle (which scores the
    * DISTINCT candidate set) hash-matches unchanged.
    *
    * The bucket self-join carries a `merge` hint (here and in every
    * production SRP form): Spark's size estimate for the keyed frame
    * ignores the explode multiplier and the array payload, so at mid
    * SFs the optimizer auto-broadcasts what actually materializes as a
    * 200+ MB full-corpus hash relation — the r15 wave measured
    * `emb_hard_negatives` at sf1 (BHJ plan) running 20× slower PER ROW
    * than its own sf6x leg (natural SMJ plan), 139 s vs 104 s wall on
    * 9× less candidate work. A corpus self-join is never broadcast-safe
    * by this engine's own lint doctrine; the hint pins the plan every
    * SF to the shape the optimizer picks once estimates exceed the
    * threshold, which is also the only shape that survives 100 TB.
    */
  def annTopKPortableGrown(d: DataFrame, k: Int, dims: Int,
      layout: SrpLayout = SrpGrown): DataFrame = {
    val keyed = layout.keyed(d.select(col("vec_id"), col("em")), dims)
    // r18: ONE exchange on the scalar candidate tail instead of two.
    // The bare dropDuplicates planned hash(qid, vec_id) for the dedup
    // aggregate and then hash(qid) again for the top-k window — and the
    // dedup's map-side partial aggregation collapses NOTHING here: a
    // pair's cross-table duplicates live in DIFFERENT bk partitions by
    // construction (different tables ⇒ different keys), so the first
    // exchange moved the full candidate multiset anyway. Repartitioning
    // by qid up front moves the same multiset ONCE: hash(qid) satisfies
    // the dedup aggregate's clustered-distribution requirement (subset
    // rule) AND the window's, so both run exchange-free on top of it
    // (plan diff in plans/r18: 3 exchanges → 2 downstream of the bucket
    // join, the duplicated partial Sort+WindowGroupLimit pass over the
    // full deduped set collapses into the single final one). Results
    // identical — only the partitioning moved; the oracle hash pins it.
    val scored = keyed.as("a").hint("merge").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"),
        CosineSimilarity.cosine_sim("a.em", "b.em").as("score"))
      .repartition(col("qid"))
      .dropDuplicates("qid", "vec_id")
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long")).where(col("rn") <= k)
  }

  /** DuckDB oracle for [[annTopKPortable]]: same sign literals, same
    * directed candidates, same rerank and tiebreak.
    */
  private def srpAnnOracle(planes: Int, tables: Int, k: Int,
      dims: Int): String = {
    val vals = (0 until planes * tables).map { p =>
      s"($p, [${srpSigns(p, dims).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
       | s AS (SELECT * FROM (VALUES $vals) v(p, sv)),
       | bits AS (SELECT vec_id, p,
       |            CASE WHEN list_inner_product(em, sv) >= 0
       |                 THEN '1' ELSE '0' END AS b
       |          FROM e, s),
       | keys AS (SELECT vec_id, p // $planes AS tbl,
       |                 string_agg(b, '' ORDER BY p) AS bk
       |          FROM bits GROUP BY vec_id, p // $planes),
       | cands AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vec_id
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       | scored AS (SELECT qid, c.vec_id,
       |                   list_cosine_similarity(q.em, t.em) AS score
       |            FROM cands c JOIN e q ON c.qid = q.vec_id
       |                         JOIN e t ON c.vec_id = t.vec_id),
       | r AS (SELECT qid, vec_id, score,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY score DESC, vec_id) AS rn
       |       FROM scored)
       |SELECT qid, vec_id, round(score, 4) AS score, rn
       |FROM r WHERE rn <= $k ORDER BY qid, rn""".stripMargin
  }

  /** Exact all-pairs cosine pairs above `thresh` — the O(n²) TRUTH
    * generator for recall tests; deliberately NOT a registered query.
    */
  def exactPairsAbove(e: DataFrame, thresh: Double): DataFrame = {
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        CosineSimilarity.cosine_sim("a.em", "b.em").as("score"))
      .where(col("score") >= thresh)
  }

  /** DuckDB oracle for the SRP-bucketed pair queries: replicates the
    * bucketing with the SAME inlined sign literals, then exact-reranks.
    */
  private def srpPairsOracle(planes: Int, tables: Int, thresh: String,
      aName: String, bName: String, dims: Int): String = {
    val vals = (0 until planes * tables).map { p =>
      s"($p, [${srpSigns(p, dims).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
       | s AS (SELECT * FROM (VALUES $vals) v(p, sv)),
       | bits AS (SELECT vec_id, p,
       |            CASE WHEN list_inner_product(em, sv) >= 0
       |                 THEN '1' ELSE '0' END AS b
       |          FROM e, s),
       | keys AS (SELECT vec_id, p // $planes AS tbl,
       |                 string_agg(b, '' ORDER BY p) AS bk
       |          FROM bits GROUP BY vec_id, p // $planes),
       | cands AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT va AS $aName, vb AS $bName,
       |       round(list_cosine_similarity(ea.em, eb.em), 4) AS score
       |FROM cands JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id
       |WHERE list_cosine_similarity(ea.em, eb.em) >= $thresh
       |ORDER BY 1, 2""".stripMargin
  }

  /** Shared oracle prefix for the adaptive-width SRP queries: CTEs
    * `e` (vec_id, label, em), `pl` (the width rule), `s` (the full
    * 12×tables sign-literal set), `bits`, and `keys` (vec_id, tbl,
    * first-`np`-bits bucket key).
    */
  private[operators] def srpScaledKeysSql(tables: Int, dims: Int): String = {
    val vals = (0 until SrpMaxPlanes * tables).map { p =>
      s"($p, [${srpSigns(p, dims).mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS em FROM embeddings),
       | pl AS (SELECT least($SrpMaxPlanes,
       |                     greatest(3, 2 + length(bin(greatest(count(*) // 250, 1))))) AS np
       |        FROM embeddings),
       | s AS (SELECT * FROM (VALUES $vals) v(p, sv)),
       | bits AS (SELECT vec_id, p,
       |            CASE WHEN list_inner_product(em, sv) >= 0
       |                 THEN '1' ELSE '0' END AS b
       |          FROM e, s WHERE p % $SrpMaxPlanes < (SELECT np FROM pl)),
       | keys AS (SELECT vec_id, p // $SrpMaxPlanes AS tbl,
       |                 string_agg(b, '' ORDER BY p) AS bk
       |          FROM bits GROUP BY vec_id, p // $SrpMaxPlanes)""".stripMargin
  }

  /** Oracle for [[srpPairsAboveGrown]] on [[SrpCap12]]: inlines the FULL
    * [[SrpMaxPlanes]]×tables sign-literal set, recomputes the adaptive
    * width from count(*) with the same integer-exact bin-length rule,
    * and keeps only each table's first `planes` bits (`p % 12 <
    * width`) — a static SQL string that replays a data-dependent
    * bucketing at any corpus size.
    */
  private def srpPairsScaledOracle(tables: Int, thresh: String,
      aName: String, bName: String, dims: Int): String =
    s"""${srpScaledKeysSql(tables, dims)},
       | cands AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT va AS $aName, vb AS $bName,
       |       round(list_cosine_similarity(ea.em, eb.em), 4) AS score
       |FROM cands JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id
       |WHERE list_cosine_similarity(ea.em, eb.em) >= $thresh
       |ORDER BY 1, 2""".stripMargin

  /** Oracle for [[annTopKPortableGrown]] on [[SrpCap12]]: the shared adaptive-width
    * bucketing prefix ([[srpScaledKeysSql]]) + the directed-candidate /
    * rerank / tiebreak tail of [[srpAnnOracle]] — a static SQL string
    * replaying the data-dependent key width from count(*).
    */
  private def srpAnnScaledOracle(tables: Int, k: Int, dims: Int): String =
    s"""${srpScaledKeysSql(tables, dims)},
       | cands AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vec_id
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       | scored AS (SELECT qid, c.vec_id,
       |                   list_cosine_similarity(q.em, t.em) AS score
       |            FROM cands c JOIN e q ON c.qid = q.vec_id
       |                         JOIN e t ON c.vec_id = t.vec_id),
       | r AS (SELECT qid, vec_id, score,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY score DESC, vec_id) AS rn
       |       FROM scored)
       |SELECT qid, vec_id, round(score, 4) AS score, rn
       |FROM r WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  /** Shared oracle prefix for the GROWN adaptive SRP queries: inlines
    * the full [[SrpGrownPlaneCap]]×[[SrpGrownTableCap]] sign-literal
    * set (2016 vectors — the VALUES list is ~800 KB of SQL, parsed
    * once per oracle run) at the [[SrpStride]] layout, recomputes BOTH
    * adaptive widths from count(*) with the same integer-exact rules,
    * and keeps each table's first `np` bits and the first `nt` tables —
    * a static SQL string replaying two data-dependent parameters at any
    * corpus size.
    */
  private[operators] def srpGrownKeysSql(dims: Int): String = {
    val vals = (for {
      t <- 0 until SrpGrownTableCap
      pp <- 0 until SrpGrownPlaneCap
    } yield {
      val p = t * SrpStride + pp
      s"($p, [${srpSigns(p, dims).mkString(", ")}]::DOUBLE[])"
    }).mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS em FROM embeddings),
       | pl AS (SELECT greatest(3, 2 + length(bin(greatest(count(*) // 250, 1)))) AS npu
       |        FROM embeddings),
       | pw AS (SELECT least($SrpGrownPlaneCap, npu) AS np,
       |               least($SrpGrownTableCap,
       |                     $SrpBaseTables + 2 * greatest(0, npu - 12)) AS nt
       |        FROM pl),
       | s AS (SELECT * FROM (VALUES $vals) v(p, sv)),
       | bits AS (SELECT vec_id, p,
       |            CASE WHEN list_inner_product(em, sv) >= 0
       |                 THEN '1' ELSE '0' END AS b
       |          FROM e, s WHERE p % $SrpStride < (SELECT np FROM pw)
       |                      AND p // $SrpStride < (SELECT nt FROM pw)),
       | keys AS (SELECT vec_id, p // $SrpStride AS tbl,
       |                 string_agg(b, '' ORDER BY p) AS bk
       |          FROM bits GROUP BY vec_id, p // $SrpStride)""".stripMargin
  }

  private def srpPairsGrownOracle(thresh: String, aName: String,
      bName: String, dims: Int): String =
    s"""${srpGrownKeysSql(dims)},
       | cands AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT va AS $aName, vb AS $bName,
       |       round(list_cosine_similarity(ea.em, eb.em), 4) AS score
       |FROM cands JOIN e ea ON va = ea.vec_id JOIN e eb ON vb = eb.vec_id
       |WHERE list_cosine_similarity(ea.em, eb.em) >= $thresh
       |ORDER BY 1, 2""".stripMargin

  /** Oracle for [[annTopKPortableGrown]]: the grown-width bucketing
    * prefix + the directed-candidate / rerank / tiebreak tail shared
    * with [[srpAnnScaledOracle]].
    */
  private def srpAnnGrownOracle(k: Int, dims: Int): String =
    s"""${srpGrownKeysSql(dims)},
       | cands AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS vec_id
       |           FROM keys a JOIN keys b
       |             ON a.tbl = b.tbl AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       | scored AS (SELECT qid, c.vec_id,
       |                   list_cosine_similarity(q.em, t.em) AS score
       |            FROM cands c JOIN e q ON c.qid = q.vec_id
       |                         JOIN e t ON c.vec_id = t.vec_id),
       | r AS (SELECT qid, vec_id, score,
       |              row_number() OVER (PARTITION BY qid
       |                                 ORDER BY score DESC, vec_id) AS rn
       |       FROM scored)
       |SELECT qid, vec_id, round(score, 4) AS score, rn
       |FROM r WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  /** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
    * corpus into cells; queries probe their `nprobe` nearest cells and
    * rerank exactly inside them. The second standard ANN scale path next
    * to SRP-LSH: at 100 TB the cell id becomes the partition key, so a
    * probe touches `nprobe/k` of the data.
    *
    * Training is Lloyd's algorithm expressed in DataFrames — assignment
    * is a broadcast-centroid cross join + min-distance argmin (one
    * narrow pass per iteration), update is a groupBy mean over
    * FIXED-POINT member coordinates. Seeds are deterministic (lowest
    * vec_ids), so results are replayable — and because the integer sums
    * are order-independent, the trained quantizer is identical on ANY
    * partitioning / cluster size AND bit-replayable by the DuckDB
    * oracle (a double mean depends on partial-aggregation order).
    */
  /** Lloyd's update = element-wise mean of each cell's members, summed
    * in 2^20 fixed point (exact integers — order-independent across
    * partitionings and engines). posexplode → per-(cell,dim)
    * partial-aggregated sum/count → ordered reassembly: the shuffle
    * carries cells×dims SCALAR rows and the widest row is one centroid,
    * never a whole cell's member list (a cell at 100 TB holds millions
    * of vectors — `collect_list` of them is a single-row OOM;
    * plan-asserted in DedupSimilaritySpec). Input rows carry the
    * quantized coordinates as `qm: array<long>`.
    */
  def centroidUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("qm")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("col")).as("sq"), count(lit(1)).as("cnt"))
      .select(col("cell"), col("pos"),
        ((col("sq").cast("double") / col("cnt").cast("double")) / 1048576.0).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), x => x.getField("m")).as("ce"))

  /** 2^20 fixed-point quantization of the (double) embedding — floor
    * round-half-up, identical IEEE ops in both engines.
    */
  def quantize(em: Column): Column =
    transform(em, x => floor(x * lit(1048576.0) + lit(0.5)))

  /** `(vec_id, em, qm)` corpus with 2^20 fixed-point coordinates,
    * localCheckpointed so the Lloyd's loop doesn't recompute the scan.
    */
  def ivfCorpus(d: DataFrame): DataFrame =
    d.select(col("vec_id"), col("em"), quantize(col("em")).as("qm"))
      .localCheckpoint()

  /** Train the IVF coarse quantizer: deterministic seeds (lowest
    * vec_ids; the seed CELL ID is the seed's vec_id, and the seed
    * centroid is its dequantized coordinates — the count=1 case of
    * centroidUpdate), then `iters` Lloyd's rounds of broadcast-argmax
    * assignment + fixed-point centroid update. Returns `(cell, ce)`.
    */
  def ivfTrain(corpus: DataFrame, cells: Int, iters: Int): DataFrame = {
    var centroids = corpus.orderBy("vec_id").limit(cells)
      .select(col("vec_id").as("cell"),
        transform(col("qm"), q => q.cast("double") / 1048576.0).as("ce"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = corpus.join(broadcast(centroids))
        .select(col("vec_id"), col("qm"), col("cell"),
          CosineSimilarity.cosine_sim("em", "ce").as("s"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(desc("s"), asc("cell"))))
        .where(col("rn") === 1)
      centroids = centroidUpdate(assigned).localCheckpoint()
    }
    centroids
  }

  /** Assign each vector its `n` nearest cells (argmax cosine, cell-id
    * tiebreak): `(vec_id, em, cell)` — n=1 is the index assignment,
    * n=nprobe the query probe set.
    */
  def ivfNearestCells(corpus: DataFrame, centroids: DataFrame, n: Int): DataFrame =
    corpus.join(broadcast(centroids))
      .select(col("vec_id"), col("em"), col("cell"),
        CosineSimilarity.cosine_sim("em", "ce").as("s"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("s"), asc("cell"))))
      .where(col("rn") <= n)
      .select(col("vec_id"), col("em"), col("cell"))

  def ivfTopK(d: DataFrame, k: Int, cells: Int, nprobe: Int, iters: Int): DataFrame = {
    val corpus = ivfCorpus(d)
    val centroids = ivfTrain(corpus, cells, iters)

    // ---- index: assign every vector to its cell
    val indexed = ivfNearestCells(corpus, centroids, 1)

    // ---- search: each vector probes its nprobe closest cells
    val probes = ivfNearestCells(corpus, centroids, nprobe)
      .select(col("vec_id").as("qid"), col("em").as("qe"), col("cell"))

    val scored = probes.join(indexed, "cell")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "em").as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long")).where(col("rn") <= k)
  }

  /** DuckDB oracle for [[ivfTopK]]: Lloyd's unrolled to `iters` CTE
    * rounds over the same 2^20 fixed-point sums, same seed cells, same
    * argmax tiebreaks, then the identical probe + rerank. Possible only
    * because the integer centroid sums are order-independent — the
    * previous double-mean update was engine-order-specific.
    */
  /** Shared CTE prefix for the IVF oracles: `e` (with fixed-point
    * `qm`), seed cells `c0`, and `iters` unrolled Lloyd's rounds
    * ending at centroid table `c<iters>`.
    */
  private def ivfTrainCtes(cells: Int, iters: Int): Seq[String] = {
    val ctes = Seq.newBuilder[String]
    ctes += s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS em,
       |       list_transform(embedding::DOUBLE[],
       |                      x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS qm
       |       FROM embeddings)""".stripMargin
    ctes += s"""c0 AS (SELECT vec_id AS cell,
       |               list_transform(qm, q -> (q::DOUBLE) / 1048576.0) AS ce
       |        FROM e ORDER BY vec_id LIMIT $cells)""".stripMargin
    for (i <- 1 to iters) {
      ctes += s"""a$i AS (SELECT vec_id, qm, cell FROM (
         |   SELECT e.vec_id, e.qm, c.cell,
         |          row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_cosine_similarity(e.em, c.ce) DESC, c.cell) AS rn
         |   FROM e, c${i - 1} c) t WHERE rn = 1)""".stripMargin
      ctes += s"""x$i AS (SELECT cell,
         |   unnest([{'pos': j, 'q': qm[j]} for j in range(1, len(qm) + 1)],
         |          recursive := true)
         |   FROM a$i)""".stripMargin
      ctes += s"""c$i AS (SELECT cell, list(m ORDER BY pos) AS ce FROM (
         |   SELECT cell, pos, (sum(q)::DOUBLE / count(*)::DOUBLE) / 1048576.0 AS m
         |   FROM x$i GROUP BY cell, pos) t GROUP BY cell)""".stripMargin
    }
    ctes.result()
  }

  private def ivfOracle(k: Int, cells: Int, nprobe: Int, iters: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes ++= ivfTrainCtes(cells, iters)
    ctes += s"""idx AS (SELECT vec_id, em, cell FROM (
       |   SELECT e.vec_id, e.em, c.cell,
       |          row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.em, c.ce) DESC, c.cell) AS rn
       |   FROM e, c$iters c) t WHERE rn = 1)""".stripMargin
    ctes += s"""pr AS (SELECT qid, qe, cell FROM (
       |   SELECT e.vec_id AS qid, e.em AS qe, c.cell,
       |          row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.em, c.ce) DESC, c.cell) AS rn
       |   FROM e, c$iters c) t WHERE rn <= $nprobe)""".stripMargin
    ctes += """sc AS (SELECT pr.qid, idx.vec_id,
       |              list_cosine_similarity(pr.qe, idx.em) AS score
       |       FROM pr JOIN idx USING (cell) WHERE idx.vec_id <> pr.qid)""".stripMargin
    ctes += """r AS (SELECT qid, vec_id, score,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY score DESC, vec_id) AS rn
       |      FROM sc)""".stripMargin
    "WITH " + ctes.result().mkString(",\n ") +
      s"\nSELECT qid, vec_id, round(score, 4) AS score, rn" +
      s"\nFROM r WHERE rn <= $k ORDER BY qid, rn"
  }

  /** PQ asymmetric-distance (ADC) top-k: the vector-COMPRESSION ANN
    * path (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"). Database vectors are reduced to `subspaces` centroid
    * digits (the `emb_pq_codes` assignment, widened to `nCentroids`
    * seeds); queries stay full precision and score a code by summing,
    * per subspace, the PRECOMPUTED squared distance from the query's
    * subvector to the centroid the code names — a
    * `subspaces`×`nCentroids` lookup table per query, never a touch of
    * the original corpus vectors. The ADC scan produces a `shortlist`
    * of candidates per query; exact cosine reranks the shortlist to
    * top-k (the production IVF-PQ shape: PQ generates, exact orders).
    *
    * Scale story: the codes table is dims·4B/subspaces smaller than the
    * raw vectors (64 floats → 8 digits here), the LUT side broadcasts
    * (256 longs per query), and the scan is a map-side LUT projection +
    * per-partition window shortlist — no shuffle of vectors at all.
    * Only `shortlist` rows per query re-acquire real vectors (broadcast
    * join-backs). The exhaustive registered form scans every code per
    * query (ADC's contract: cheap-per-comparison linear scan); at
    * 100 TB you compose it with the IVF cell restriction (`ivfTopK`'s
    * probe join) so each query scans only `nprobe/cells` of the codes.
    *
    * Determinism/oracle: per-subspace partial distances are floored to
    * 2^20 fixed point BEFORE the 8-term sum, so ADC scores are exact
    * integers — order-independent and bit-replayable in DuckDB.
    * Measured at sf0.01: shortlist=100 + rerank → recall@5 = 0.85 vs
    * exact cosine truth (raw ADC@5 alone = 0.18 on this synthetic
    * corpus of i.i.d. unit vectors — near-uniform pairwise distances
    * are PQ's worst case; real embedding clusters quantize far better).
    */
  /** Per-(vector, subspace, centroid) squared distances against the
    * seeds-of-lowest-vec_ids codebook: `(vec_id, ss, c, sid, d2)` —
    * the shared substrate of PQ code assignment (argmin over c) and
    * the per-query ADC lookup tables (all rows, fixed-point floored).
    */
  def pqScored(e: DataFrame, subspaces: Int, subDim: Int,
      nCentroids: Int): DataFrame = {
    val sub = e.select(col("vec_id"), posexplode(
        array((0 until subspaces).map(j => slice(col("em"), j * subDim + 1, subDim)): _*)))
      .select(col("vec_id"), col("pos").as("ss"), col("col").as("sv"))
    // codebook = subvectors of the nCentroids lowest vec_ids, with a
    // dense centroid index c (rank by seed id) for LUT slot arithmetic
    val seeds = e.orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id").as("sid"))
      .withColumn("c", row_number().over(Window.orderBy("sid")) - 1)
    val cb = sub.join(seeds, col("vec_id") === col("sid"))
      .select(col("sid"), col("c"), col("ss").as("css"), col("sv").as("cv"))
    // codegen L2² kernel (one fused loop, bit-identical to the
    // sequential zip_with HOF form and the oracle's list_sum — the
    // interpreted HOF measured 5× slower over the 1.3M scored rows)
    val d2: Column = graft.functions.SquaredL2.squared_l2("sv", "cv")
    // ONE broadcast join scores every (vector, subspace, centroid)
    sub.join(broadcast(cb), col("ss") === col("css"))
      .select(col("vec_id"), col("ss"), col("c"), col("sid"), d2.as("d2"))
  }

  /** PQ code digits per vector: `(vec_id, code: array<int>)`. */
  def pqCodes(scored: DataFrame): DataFrame =
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "ss").orderBy(asc("d2"), asc("sid"))))
      .where(col("rn") === 1)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("ss"), col("c")))).as("cs"))
      .select(col("vec_id"), transform(col("cs"), x => x.getField("c")).as("code"))

  /** Flat per-query ADC lookup table, slot = ss·nCentroids + c:
    * `(qid, lut: array<long>)` in 2^20 fixed point.
    */
  def pqLut(scored: DataFrame, nCentroids: Int): DataFrame =
    scored
      .select(col("vec_id").as("qid"),
        (col("ss") * nCentroids + col("c")).as("slot"),
        floor(col("d2") * lit(1048576.0) + lit(0.5)).cast("long").as("pd"))
      .groupBy("qid")
      .agg(array_sort(collect_list(struct(col("slot"), col("pd")))).as("ps"))
      .select(col("qid"), transform(col("ps"), x => x.getField("pd")).as("lut"))

  /** Statically unrolled ADC sum of codegen element_at lookups — this
    * projection runs once per (query, code) pair, the hot path of the
    * whole scan; the aggregate-over-sequence HOF form is interpreted
    * and measured 25M interpreted folds ≈ 10 s at sf0.1.
    */
  def adcSum(subspaces: Int, nCentroids: Int): Column =
    (0 until subspaces).map { ss =>
      element_at(col("lut"),
        element_at(col("code"), ss + 1) + lit(ss * nCentroids + 1))
    }.reduce(_ + _)

  def pqAdcTopK(d: DataFrame, k: Int, shortlist: Int, subspaces: Int,
      subDim: Int, nCentroids: Int): DataFrame = {
    val e = d.select(col("vec_id"), col("em"))
    val scored = pqScored(e, subspaces, subDim, nCentroids)
    val codes = pqCodes(scored)
    val lut = pqLut(scored, nCentroids)
    val adc: Column = adcSum(subspaces, nCentroids)
    // stream the QUERY (lut) side and broadcast the codes: a query's
    // whole candidate set is then colocated in one partition, so the
    // partial WindowGroupLimit reduces it to `shortlist` rows BEFORE
    // the exchange (streaming codes instead re-shuffles up to
    // shortlist·partitions rows per query — measured 32× more shuffle).
    // This registered form queries the whole corpus against itself, and
    // codes are the 32×-compressed side — broadcastable far beyond the
    // raw vectors. With a SMALL probe set over a huge corpus the
    // orientation flips (broadcast the probe LUTs, stream the codes);
    // same plan shape either way.
    val scanned = lut.join(broadcast(codes), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adc.as("adc"))
    val wAdc = Window.partitionBy("qid").orderBy(asc("adc"), asc("vec_id"))
    val short = scanned.withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= shortlist)
      .select(col("qid"), col("vec_id"))
    // exact rerank of the skinny shortlist: vectors re-acquired via two
    // broadcast join-backs (same pattern as annTopKPortable)
    val rer = short
      .join(broadcast(e.select(col("vec_id").as("qid"), col("em").as("qe"))), "qid")
      .join(broadcast(e.select(col("vec_id"), col("em").as("ce"))), "vec_id")
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "ce").as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    rer.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Shared CTEs for the PQ oracles (assume a CTE `e(vec_id, em)`
    * already exists): codebook `cb`, code digits `codes`, per-query
    * fixed-point lookup tables `lut`.
    */
  private def pqCtes(subspaces: Int, subDim: Int, nCentroids: Int): Seq[String] = {
    val n = nCentroids
    Seq(
      s"""sub AS (SELECT vec_id,
         |           unnest([{'ss': j, 'sv': em[j*$subDim+1:j*$subDim+$subDim]}
         |                   for j in range(0, $subspaces)], recursive := true)
         |         FROM e)""".stripMargin,
      s"""seeds AS (SELECT sid, row_number() OVER (ORDER BY sid) - 1 AS c FROM (
         |             SELECT vec_id AS sid FROM e ORDER BY vec_id LIMIT $n))""".stripMargin,
      s"""cb AS (SELECT sd.sid, sd.c, s.ss AS css, s.sv AS cv
         |        FROM sub s JOIN seeds sd ON s.vec_id = sd.sid)""".stripMargin,
      s"""pqsc AS (SELECT sub.vec_id, sub.ss, cb.c, cb.sid,
         |              list_sum([(sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i])
         |                        for i in range(1, len(sub.sv) + 1)]) AS d2
         |            FROM sub JOIN cb ON sub.ss = cb.css)""".stripMargin,
      s"""best AS (SELECT vec_id, ss, c FROM (
         |            SELECT vec_id, ss, c,
         |                   row_number() OVER (PARTITION BY vec_id, ss
         |                                      ORDER BY d2, sid) AS rn
         |            FROM pqsc) WHERE rn = 1)""".stripMargin,
      s"""codes AS (SELECT vec_id, list(c ORDER BY ss) AS code
         |           FROM best GROUP BY vec_id)""".stripMargin,
      s"""lut AS (SELECT vec_id AS qid,
         |                list(CAST(floor(d2 * 1048576.0 + 0.5) AS BIGINT)
         |                     ORDER BY ss * $n + c) AS lut
         |         FROM pqsc GROUP BY vec_id)""".stripMargin)
  }

  /** ADC shortlist + exact-rerank tail shared by the PQ oracles:
    * `scanSrc` supplies the candidate (qid, vec_id, code, lut) rows.
    */
  private def pqTailCtes(k: Int, shortlist: Int, subspaces: Int,
      nCentroids: Int, scanFrom: String): Seq[String] = {
    val n = nCentroids
    Seq(
      s"""scan AS (SELECT qid, vec_id,
         |            list_sum([lut[ss * $n + code[ss + 1] + 1]
         |                      for ss in range(0, $subspaces)]) AS adc
         |          FROM ($scanFrom) cl)""".stripMargin,
      s"""short AS (SELECT qid, vec_id FROM (
         |             SELECT qid, vec_id,
         |                    row_number() OVER (PARTITION BY qid
         |                                       ORDER BY adc, vec_id) AS srn
         |             FROM scan) WHERE srn <= $shortlist)""".stripMargin,
      s"""rer AS (SELECT s.qid, s.vec_id,
         |                list_cosine_similarity(q.em, t.em) AS score
         |         FROM short s JOIN e q ON s.qid = q.vec_id
         |                      JOIN e t ON s.vec_id = t.vec_id)""".stripMargin,
      s"""r AS (SELECT qid, vec_id, score,
         |              row_number() OVER (PARTITION BY qid
         |                                 ORDER BY score DESC, vec_id) AS rn
         |       FROM rer)""".stripMargin)
  }

  private def pqAdcOracle(k: Int, shortlist: Int, subspaces: Int,
      subDim: Int, nCentroids: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes += "e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings)"
    ctes ++= pqCtes(subspaces, subDim, nCentroids)
    ctes ++= pqTailCtes(k, shortlist, subspaces, nCentroids,
      """SELECT q.qid, cd.vec_id, cd.code, q.lut
        |           FROM codes cd, lut q WHERE cd.vec_id <> q.qid""".stripMargin)
    "WITH " + ctes.result().mkString(",\n ") +
      s"\nSELECT qid, vec_id, round(score, 4) AS score, rn" +
      s"\nFROM r WHERE rn <= $k ORDER BY qid, rn"
  }

  /** IVF-PQ: the composed billion-scale ANN index (Jégou et al. 2011,
    * the FAISS `IVFx,PQy` layout). The IVF coarse quantizer restricts
    * each query to its `nprobe` probed cells; INSIDE those cells the
    * scan runs on PQ codes against the query's ADC lookup table —
    * never on raw vectors; the ADC shortlist then exact-reranks.
    *
    * Scale story: the candidate join is a cell EQUI-join (hash
    * partitionable on any cluster), each query touches `nprobe/cells`
    * of the corpus, and what it touches is the 32×-compressed codes
    * column. Raw vectors appear only in the final shortlist rerank.
    * A (qid, vec_id) pair occurs in at most one cell (a vector's index
    * cell is unique), so no candidate dedup is needed.
    *
    * Everything is oracle-replayable: fixed-point Lloyd's training
    * (order-independent integer sums), fixed-point ADC scores, argmax/
    * argmin tiebreaks, and the bit-identical cosine rerank kernel.
    */
  def ivfPqTopK(d: DataFrame, k: Int, shortlist: Int, cells: Int,
      nprobe: Int, iters: Int, subspaces: Int, subDim: Int,
      nCentroids: Int): DataFrame = {
    val e = d.select(col("vec_id"), col("em"))
    val corpus = ivfCorpus(d)
    val centroids = ivfTrain(corpus, cells, iters)
    val scored = pqScored(e, subspaces, subDim, nCentroids)
    // index side: IVF cell + PQ code per vector (no raw vectors)
    val index = ivfNearestCells(corpus, centroids, 1)
      .select(col("vec_id"), col("cell"))
      .join(pqCodes(scored), "vec_id")
    // probe side: nprobe cells + ADC lookup table per query
    val probes = ivfNearestCells(corpus, centroids, nprobe)
      .select(col("vec_id").as("qid"), col("cell"))
      .join(pqLut(scored, nCentroids), "qid")
    // cell-restricted ADC scan: equi-join on cell, LUT lookups in the
    // projection — candidates never materialize vectors
    val scanned = probes.join(index, "cell")
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        adcSum(subspaces, nCentroids).as("adc"))
    val wAdc = Window.partitionBy("qid").orderBy(asc("adc"), asc("vec_id"))
    val short = scanned.withColumn("srn", row_number().over(wAdc))
      .where(col("srn") <= shortlist)
      .select(col("qid"), col("vec_id"))
    val rer = short
      .join(broadcast(e.select(col("vec_id").as("qid"), col("em").as("qe"))), "qid")
      .join(broadcast(e.select(col("vec_id"), col("em").as("ce"))), "vec_id")
      .select(col("qid"), col("vec_id"),
        CosineSimilarity.cosine_sim("qe", "ce").as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("vec_id"))
    rer.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** DuckDB oracle for [[ivfPqTopK]]: the IVF training unroll feeding
    * the PQ scan restricted to probed cells — the union of the two
    * component oracles with the candidate source swapped.
    */
  private def ivfPqOracle(k: Int, shortlist: Int, cells: Int, nprobe: Int,
      iters: Int, subspaces: Int, subDim: Int, nCentroids: Int): String = {
    val ctes = Seq.newBuilder[String]
    ctes ++= ivfTrainCtes(cells, iters)
    ctes += s"""idx AS (SELECT vec_id, cell FROM (
       |   SELECT e.vec_id, c.cell,
       |          row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.em, c.ce) DESC, c.cell) AS rn
       |   FROM e, c$iters c) t WHERE rn = 1)""".stripMargin
    ctes += s"""pr AS (SELECT qid, cell FROM (
       |   SELECT e.vec_id AS qid, c.cell,
       |          row_number() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_cosine_similarity(e.em, c.ce) DESC, c.cell) AS rn
       |   FROM e, c$iters c) t WHERE rn <= $nprobe)""".stripMargin
    ctes ++= pqCtes(subspaces, subDim, nCentroids)
    ctes ++= pqTailCtes(k, shortlist, subspaces, nCentroids,
      """SELECT pr.qid, idx.vec_id, codes.code, lut.lut
        |           FROM pr JOIN idx USING (cell)
        |                JOIN codes ON idx.vec_id = codes.vec_id
        |                JOIN lut ON pr.qid = lut.qid
        |           WHERE idx.vec_id <> pr.qid""".stripMargin)
    "WITH " + ctes.result().mkString(",\n ") +
      s"\nSELECT qid, vec_id, round(score, 4) AS score, rn" +
      s"\nFROM r WHERE rn <= $k ORDER BY qid, rn"
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "sim_filtered_topk",
      (s, dir) => {
        // FILTERED VECTOR SEARCH: top-k cosine neighbors restricted to a
        // metadata predicate (label = 3) — the "filtered ANN" shape
        // every retrieval stack needs (search only docs matching a
        // facet). The filter applies BEFORE similarity work, pushed
        // into the parquet scan (PushedFilters carries label), so the
        // kernel streams only the qualifying slice — pre-filtering, not
        // the post-filter-then-hope variant that under-fills k when the
        // facet is selective. Probes are the 5 lowest vec_ids of the
        // SAME slice so every scale factor has both probes and
        // candidates.
        val e = emb(s, dir).where(col("label") === 3)
          .select(col("vec_id"), col("em"))
        bruteForceTopK(e.orderBy("vec_id").limit(5), e, k = 5)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH f AS (SELECT vec_id, embedding::DOUBLE[] AS em
             |           FROM embeddings WHERE label = 3),
             |     q AS (SELECT vec_id AS qid, em AS qe FROM f ORDER BY vec_id LIMIT 5),
             |     p AS (SELECT qid, vec_id, list_cosine_similarity(qe, em) AS s
             |           FROM q, f WHERE vec_id <> qid),
             |     r AS (SELECT qid, vec_id, s,
             |                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
             |           FROM p)
             |SELECT qid, vec_id, round(s, 4) AS score, rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    GQuery(
      "sim_topk_bruteforce",
      (s, dir) => {
        val e = emb(s, dir)
        bruteForceTopK(e.where(col("vec_id") < 10), e, k = 5)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
             |           FROM embeddings WHERE vec_id < 10),
             |     c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
             |     p AS (SELECT qid, vec_id, list_cosine_similarity(qe, ce) AS s
             |           FROM q, c WHERE vec_id <> qid),
             |     r AS (SELECT qid, vec_id, s,
             |                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rn
             |           FROM p)
             |SELECT qid, vec_id, round(s, 4) AS score, rn
             |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),
      bench = true),

    GQuery(
      "sim_pairs_threshold",
      (s, dir) => {
        // broadcast_exploded fixture entry: the FIXED 3×16 witness form
        // stays unhinted, so at small SFs the optimizer may broadcast
        // the keyed frame — deliberate: this form is small-SF-only by
        // contract (it DNF'd sf1 in the r12 wave; production is the
        // hinted _scaled/_grown twin).
        // Vector pairs with cosine >= 0.4, candidates sourced from SRP
        // buckets (equi-join, never the N² row product) and exact-
        // reranked. The oracle replicates the bucketing with the same
        // inlined sign literals; recall vs the all-pairs truth is gated
        // in ScalaTest (1.0 at sf0.01 with 3 planes × 16 tables).
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        srpPairsAbove(e, planes = 3, tables = 16, dims = 64, thresh = 0.4)
          .select(col("va").as("vec_a"), col("vb").as("vec_b"),
            round(col("score"), 4).as("score"))
          .orderBy("vec_a", "vec_b")
      },
      Some(srpPairsOracle(planes = 3, tables = 16, thresh = "0.4",
        aName = "vec_a", bName = "vec_b", dims = 64))),

    GQuery(
      "sim_pairs_threshold_scaled",
      (s, dir) => {
        // The ADAPTIVE-WIDTH production form of sim_pairs_threshold,
        // whose fixed 3×16 bucketing measured 125× wall-clock at 10×
        // vectors in the round-12 wave (128 bucket keys forever →
        // quadratic in-bucket pairs). Since r14 this runs the GROWN key
        // layout (plane cap 36, 2-per-plane table growth past width 12,
        // versioned stride — see srpPairsAboveGrown): the r13 cap-12
        // form re-quadratized at 256k vectors, 2× past the measured
        // second-decade corpus. Both adaptive widths are recomputed by
        // the oracle from count(*) with the same integer-exact rules,
        // so the query stays hash-verified at every scale factor; the
        // cap-12 form stays registered as sim_pairs_threshold_cap12,
        // the regression witness. wide_shuffles fixture entry: the one
        // deliberate array exchange is the N·tables bucket-key shuffle
        // the em column rides exactly once (cosine evaluates in the
        // bucket join; downstream rows are scalar), plus the bounded
        // parallelized() round-robin (only fires on few-partition
        // scans ⇒ bounded bytes).
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        srpPairsAboveGrown(e, dims = 64, thresh = 0.4)
          .select(col("va").as("vec_a"), col("vb").as("vec_b"),
            round(col("score"), 4).as("score"))
          .orderBy("vec_a", "vec_b")
      },
      Some(srpPairsGrownOracle(thresh = "0.4",
        aName = "vec_a", bName = "vec_b", dims = 64)),
      bench = true),

    GQuery(
      "sim_pairs_threshold_cap12",
      (s, dir) => {
        // REGRESSION WITNESS: the r13 cap-12 adaptive form (plane cap
        // 12, fixed 16 tables, cap-as-stride key layout) kept
        // hash-gated so the grown production form above has a pinned
        // baseline — the same witness relationship the fixed 3×16 form
        // has to the cap-12 form. Its cap binds at 256k vectors
        // (srpScaledPlanes), which is WHY production moved to the grown
        // layout; below the cap the two forms' widths agree and only
        // the sign vectors differ. wide_shuffles fixture entry: same
        // single bucket-key array exchange (+ bounded parallelized())
        // as the grown form above.
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        srpPairsAboveGrown(e, dims = 64, thresh = 0.4, SrpCap12)
          .select(col("va").as("vec_a"), col("vb").as("vec_b"),
            round(col("score"), 4).as("score"))
          .orderBy("vec_a", "vec_b")
      },
      Some(srpPairsScaledOracle(tables = 16, thresh = "0.4",
        aName = "vec_a", bName = "vec_b", dims = 64))),

    GQuery(
      "sim_ann_lsh",
      (s, dir) => {
        // SRP-LSH ANN: bucket equi-join + in-bucket exact rerank, using
        // the PORTABLE sign literals so the oracle replays the buckets
        // and the query is hash-verified.
        annTopKPortable(emb(s, dir), k = 5, planes = 3, tables = 16, dims = 64)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(srpAnnOracle(planes = 3, tables = 16, k = 5, dims = 64))),

    GQuery(
      "sim_ann_lsh_scaled",
      (s, dir) => {
        // The ADAPTIVE-WIDTH production form of sim_ann_lsh, whose
        // fixed 3×16 bucketing DNF'd its sf1 cold pass in the round-12
        // wave (35-min abort; 128 bucket keys forever → ~400M-row
        // candidate distinct). Since r14 this runs the GROWN key layout
        // (plane cap 36, table growth, versioned stride — see
        // annTopKPortableGrown) and the exact cosine evaluates IN the
        // bucket join, where both vectors are co-located: the r13
        // id-keyed rerank join-backs re-shuffled the just-acquired
        // query vector on every candidate row (~120 GB at 320k vectors
        // — killed the sf16x leg on disk) and are gone. The oracle
        // recomputes both widths from count(*) with the same
        // integer-exact rules, so the query stays hash-verified at
        // every scale factor; the fixed form and the r13 cap-12 form
        // (sim_ann_lsh_cap12) stay registered as regression witnesses.
        // wide_shuffles fixture entry: the single deliberate
        // array-carrying exchange is the N·tables bucket-key shuffle
        // (the em column rides it exactly once; everything downstream
        // is three scalar columns), plus the bounded parallelized()
        // round-robin that only exists when the scan has fewer
        // partitions than default parallelism (few partitions ⇒ bounded
        // bytes). The shape is pinned under broadcast-off in
        // SimilarityScaleSpec.
        annTopKPortableGrown(emb(s, dir), k = 5, dims = 64)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(srpAnnGrownOracle(k = 5, dims = 64)),
      bench = true),

    GQuery(
      "sim_ann_lsh_cap12",
      (s, dir) => {
        // REGRESSION WITNESS: the r13 cap-12 adaptive ANN form, kept
        // hash-gated next to the grown production form above (same
        // rationale as sim_pairs_threshold_cap12 — the cap binds at
        // 256k vectors, which is why production moved on).
        // wide_shuffles fixture entry: same single bucket-key array
        // exchange (+ bounded parallelized()) as the grown form.
        annTopKPortableGrown(emb(s, dir), k = 5, dims = 64, SrpCap12)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(srpAnnScaledOracle(tables = 16, k = 5, dims = 64))),

    GQuery(
      "sim_ann_ivf",
      (s, dir) => {
        // IVF ANN: 16-cell coarse quantizer, 4-probe search, exact rerank
        // inside probed cells. The fixed-point Lloyd's update makes the
        // trained quantizer order-independent, so the oracle unrolls the
        // SAME three iterations and the query is hash-verified; recall
        // vs brute force additionally gated in ScalaTest.
        ivfTopK(emb(s, dir), k = 5, cells = 16, nprobe = 4, iters = 3)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(ivfOracle(k = 5, cells = 16, nprobe = 4, iters = 3))),

    GQuery(
      "sim_ann_pq_adc",
      (s, dir) => {
        // broadcast_exploded fixture entry: the corpus-side broadcast
        // join-backs here are the HINTED, already-adjudicated
        // broadcast_fact instances (see that fixture) — the exploded
        // detector sees the same subtrees.
        // PQ-ADC ANN: 8×8 product quantization, 32 centroids/subspace,
        // per-query 256-entry fixed-point distance LUT, exhaustive code
        // scan → 100-candidate shortlist → exact cosine rerank to
        // top-5. Hash-verified (integer ADC scores + the bit-identical
        // cosine kernel); recall vs brute force gated in ScalaTest.
        // BY-CONTRACT exhaustive baseline (the r12 sweep's 18× at 10×
        // is this contract, not a defect): every vector queries the
        // FULL code table, so the ADC scan is O(N²) over 32×-compressed
        // codes by design — the recall/correctness witness for the
        // indexed production twin sim_ann_ivfpq, whose coarse quantizer
        // restricts each query to nprobe cells (5.0× at 10×, SCALE.md).
        pqAdcTopK(emb(s, dir), k = 5, shortlist = 100,
            subspaces = 8, subDim = 8, nCentroids = 32)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(pqAdcOracle(k = 5, shortlist = 100,
        subspaces = 8, subDim = 8, nCentroids = 32))),

    GQuery(
      "sim_ann_ivfpq",
      (s, dir) => {
        // broadcast_exploded fixture entry: same adjudication as
        // sim_ann_pq_adc (hinted broadcast_fact instances).
        // IVF-PQ composed index: 16-cell coarse quantizer (3 Lloyd's
        // rounds) restricts each query to 4 probed cells; the in-cell
        // scan runs on PQ codes vs the query's ADC LUT (never raw
        // vectors); 50-candidate shortlist, exact cosine rerank to
        // top-5. Hash-verified end-to-end — training, codes, ADC and
        // rerank all replay in DuckDB.
        ivfPqTopK(emb(s, dir), k = 5, shortlist = 50, cells = 16,
            nprobe = 4, iters = 3, subspaces = 8, subDim = 8, nCentroids = 32)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"), col("rn"))
          .orderBy("qid", "rn")
      },
      Some(ivfPqOracle(k = 5, shortlist = 50, cells = 16, nprobe = 4,
        iters = 3, subspaces = 8, subDim = 8, nCentroids = 32))),

    GQuery(
      "sim_ann_binary_hamming",
      (s, dir) => {
        // BINARY QUANTIZATION ANN (the 1-bit vector-DB trick): each
        // 64-dim vector sign-packs into TWO 32-bit code halves (BIGINT-
        // safe in both engines), the candidate scan runs on 8-byte
        // codes via XOR+popcount Hamming distance — a 64× smaller,
        // SIMD-scannable table at 100 TB, where the full-precision
        // vectors are touched only by the rerank — then the 32-deep
        // shortlist exact-reranks to cosine top-5 with the same rounded
        // score/tiebreak as sim_topk_bruteforce. Hash-verified
        // end-to-end (packing, Hamming, rerank all replay in DuckDB);
        // recall vs brute force is gated in ScalaTest. `narrow_shuffles`
        // asserts the scale claim ON THE PLAN: no shuffle exchange in
        // the whole query carries an array column — the 8-byte codes,
        // not the vectors, are what moves (oracle expects true, so a
        // regression that reintroduces a wide exchange fails the hash).
        val q = binaryHammingTopK(emb(s, dir).where(col("vec_id") < 10),
            emb(s, dir), k = 5, shortlist = 32)
          .select(col("qid"), col("vec_id"), round(col("score"), 4).as("score"),
            col("rn"))
          .orderBy("qid", "rn")
        q.withColumn("narrow_shuffles", lit(shufflesAreArrayFree(q)))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             |  codes AS (SELECT vec_id, em,
             |    CAST(list_sum([CASE WHEN em[i] > 0 THEN 2.0 ** (i - 1) ELSE 0 END
             |                   for i in range(1, 33)]) AS BIGINT) AS lo,
             |    CAST(list_sum([CASE WHEN em[i] > 0 THEN 2.0 ** (i - 33) ELSE 0 END
             |                   for i in range(33, 65)]) AS BIGINT) AS hi
             |    FROM e),
             |  q AS (SELECT vec_id AS qid, em AS qe, lo AS qlo, hi AS qhi
             |        FROM codes WHERE vec_id < 10),
             |  ham AS (SELECT qid, qe, c.vec_id, c.em,
             |                 bit_count(xor(qlo, lo)) + bit_count(xor(qhi, hi)) AS hd
             |          FROM codes c, q WHERE c.vec_id <> qid),
             |  sl AS (SELECT qid, qe, vec_id, em,
             |                row_number() OVER (PARTITION BY qid
             |                                   ORDER BY hd, vec_id) AS rn_h
             |         FROM ham),
             |  rr AS (SELECT qid, vec_id, list_cosine_similarity(qe, em) AS s,
             |                row_number() OVER (PARTITION BY qid
             |                   ORDER BY list_cosine_similarity(qe, em) DESC,
             |                            vec_id) AS rn
             |         FROM sl WHERE rn_h <= 32)
             |SELECT qid, vec_id, round(s, 4) AS score, CAST(rn AS BIGINT) AS rn,
             |       true AS narrow_shuffles
             |FROM rr WHERE rn <= 5 ORDER BY qid, rn""".stripMargin)),

    GQuery(
      "decontaminate_semantic",
      (s, dir) => {
        // SEMANTIC decontamination: the embedding-space sibling of
        // decontaminate_ngrams — flag training vectors whose nearest
        // EVAL-set vector (vec_id % 20 == 0, capped at the first 100 —
        // a benchmark is a FIXED artifact whose size does not grow with
        // the training corpus; the uncapped fixture made eval 5% of N
        // and the round-12 sf1 sweep measured the resulting |train|·|eval|
        // pass at 44× per 10× data. The cap changes nothing at the
        // driver SFs — every %20 id there is already below 2000 — and
        // makes the pass O(N·100), i.e. linear) exceeds cosine 0.3,
        // reporting the culprit. Eval sets are small by nature →
        // broadcast; the training corpus streams through one narrow
        // pass, no shuffle of vectors, and only flagged rows survive.
        // With a genuinely LARGE eval set you'd route the candidate
        // step through the SRP buckets (srpKeyed) instead — same
        // rerank, same output contract.
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        val ev = e.where(col("vec_id") % 20 === 0 && col("vec_id") < 2000)
          .select(col("vec_id").as("eval_id"), col("em").as("ee"))
        e.where(col("vec_id") % 20 =!= 0)
          .join(broadcast(ev))
          .select(col("vec_id"), col("eval_id"),
            CosineSimilarity.cosine_sim("em", "ee").as("sim"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(desc("sim"), asc("eval_id"))))
          .where(col("rn") === 1 && col("sim") >= 0.3)
          .select(col("vec_id"), col("eval_id").as("nearest_eval"),
            round(col("sim"), 4).as("sim"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             | ev AS (SELECT vec_id AS eval_id, em AS ee FROM e
             |        WHERE vec_id % 20 = 0 AND vec_id < 2000),
             | best AS (SELECT vec_id, eval_id, s FROM (
             |    SELECT t.vec_id, ev.eval_id,
             |           list_cosine_similarity(t.em, ev.ee) AS s,
             |           row_number() OVER (PARTITION BY t.vec_id
             |              ORDER BY list_cosine_similarity(t.em, ev.ee) DESC,
             |                       ev.eval_id) AS rn
             |    FROM e t, ev WHERE t.vec_id % 20 <> 0) WHERE rn = 1)
             |SELECT vec_id, eval_id AS nearest_eval, round(s, 4) AS sim
             |FROM best WHERE s >= 0.3 ORDER BY vec_id""".stripMargin)),

    GQuery(
      "dedup_embedding_cosine",
      (s, dir) => {
        // broadcast_exploded fixture entry: same small-SF-only witness
        // adjudication as sim_pairs_threshold.
        // Embedding-cosine near-dup: pairs above 0.45, keep lower id as
        // canonical. Candidates come from the SRP bucket equi-join with
        // exact rerank — the form that survives 100 TB; the all-pairs
        // truth lives only in the recall test (exactPairsAbove).
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        srpPairsAbove(e, planes = 3, tables = 16, dims = 64, thresh = 0.45)
          .select(col("va").as("keeper"), col("vb").as("dup"),
            round(col("score"), 4).as("score"))
          .orderBy("keeper", "dup")
      },
      Some(srpPairsOracle(planes = 3, tables = 16, thresh = "0.45",
        aName = "keeper", bName = "dup", dims = 64))),

    GQuery(
      "dedup_embedding_cosine_scaled",
      (s, dir) => {
        // Adaptive-width production form of dedup_embedding_cosine —
        // the same fixed-bucket-count defect and the same fix as
        // sim_pairs_threshold_scaled: since r14 on the GROWN key layout
        // (plane cap 36, table growth past width 12, both widths
        // replayed by the oracle from count(*)). wide_shuffles fixture
        // entry: same single bucket-key array exchange (+ bounded
        // parallelized()) as sim_pairs_threshold_scaled.
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        srpPairsAboveGrown(e, dims = 64, thresh = 0.45)
          .select(col("va").as("keeper"), col("vb").as("dup"),
            round(col("score"), 4).as("score"))
          .orderBy("keeper", "dup")
      },
      Some(srpPairsGrownOracle(thresh = "0.45",
        aName = "keeper", bName = "dup", dims = 64))),

    GQuery(
      "dedup_semantic",
      (s, dir) => {
        // SEMANTIC dedup (SemDeDup shape): coarse semantic bucketing —
        // every vector assigned to its nearest of k seed centroids (the
        // deterministic, oracle-able stand-in for a trained quantizer;
        // the ITERATIVE quantizer lives in ivfTopK) — then near-dup
        // pairs scanned ONLY within buckets. At 100 TB the O(n²) pair
        // scan becomes k independent O((n/k)²) scans co-located by the
        // bucket shuffle, and the seed table broadcasts. Assignment uses
        // row_number over (cosine DESC, cell) — the same argmax-with-
        // tiebreak that hash-matches in sim_topk_bruteforce, so the
        // whole path stays bit-identical to the DuckDB oracle.
        val e = emb(s, dir).select(col("vec_id"), col("em"))
        // Seeds = the 8 lowest vec_ids actually PRESENT (TakeOrdered, no
        // assumption that ids 0..7 exist in every scale/filter of the
        // table — a `vec_id < 8` predicate would silently yield zero
        // buckets on a corpus that lacks them).
        val seeds = e.orderBy("vec_id").limit(8)
          .select(col("vec_id").as("cell"), col("em").as("ce"))
        val assigned = e.join(broadcast(seeds))
          .select(col("vec_id"), col("em"), col("cell"),
            CosineSimilarity.cosine_sim("em", "ce").as("sc"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(desc("sc"), asc("cell"))))
          .where(col("rn") === 1)
          .select(col("cell"), col("vec_id"), col("em"))
        assigned.as("a").join(assigned.as("b"),
            col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.cell").as("cell"), col("a.vec_id").as("keeper"),
            col("b.vec_id").as("dup"),
            CosineSimilarity.cosine_sim("a.em", "b.em").as("score"))
          .where(col("score") >= 0.45)
          .select(col("cell"), col("keeper"), col("dup"),
            round(col("score"), 4).as("score"))
          .orderBy("cell", "keeper", "dup")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             |     seeds AS (SELECT vec_id AS cell, em AS ce FROM e ORDER BY vec_id LIMIT 8),
             |     scored AS (SELECT e.vec_id, e.em, cell,
             |                       list_cosine_similarity(em, ce) AS sc
             |                FROM e, seeds),
             |     r AS (SELECT vec_id, em, cell,
             |                  row_number() OVER (PARTITION BY vec_id
             |                                     ORDER BY sc DESC, cell) AS rn
             |           FROM scored),
             |     a AS (SELECT cell, vec_id, em FROM r WHERE rn = 1)
             |SELECT x.cell AS cell, x.vec_id AS keeper, y.vec_id AS dup,
             |       round(list_cosine_similarity(x.em, y.em), 4) AS score
             |FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
             |WHERE list_cosine_similarity(x.em, y.em) >= 0.45
             |ORDER BY cell, keeper, dup""".stripMargin)),

    GQuery(
      "emb_quantize_int8",
      (s, dir) => {
        // Symmetric int8 quantization of the embedding column — the
        // storage/bandwidth op of a vector corpus (4x smaller + SIMD
        // kernels downstream). Per-vector absmax scale; emits the scale,
        // the quantized checksum, and the max reconstruction error.
        // Per-row arithmetic in double (cast BEFORE any math, matching
        // the oracle's ::DOUBLE[] path) — codegen'd, no shuffle.
        emb(s, dir)
          .select(col("vec_id"),
            greatest(aggregate(col("em"), lit(0.0),
              (acc, x) => greatest(acc, abs(x))), lit(1e-12)).as("scale"),
            col("em"))
          .select(col("vec_id"),
            round(col("scale"), 6).as("scale6"),
            aggregate(transform(col("em"), x => round(x / col("scale") * 127)),
              lit(0L), (acc, q) => acc + q.cast("long")).as("q_sum"),
            round(aggregate(col("em"), lit(0.0), (acc, x) =>
              greatest(acc, abs(x - round(x / col("scale") * 127) * col("scale") / 127))),
              6).as("max_err"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             |     s AS (SELECT vec_id, em,
             |                  greatest(list_max(list_transform(em, x -> abs(x))), 1e-12) AS scale
             |           FROM e)
             |SELECT vec_id,
             |       round(scale, 6) AS scale6,
             |       CAST(list_sum(list_transform(em, x -> CAST(round(x / scale * 127) AS BIGINT))) AS BIGINT) AS q_sum,
             |       round(list_max(list_transform(em, x ->
             |             abs(x - round(x / scale * 127) * scale / 127))), 6) AS max_err
             |FROM s ORDER BY vec_id""".stripMargin)),

    GQuery(
      "emb_kmeans_iter",
      (s, dir) => {
        // ONE LLOYD (k-means) ITERATION, k=4: seeds are the 4
        // smallest-vec_id embeddings (a data-derived seed SET, not a
        // literal — both engines select it with the same subquery),
        // every vector assigns to its max-cosine centroid (ties to
        // the smaller centroid id), and the audit emits per-cluster
        // size, mean assignment cosine, and the element-sum of the
        // recomputed centroid. The centroid element-sum needs NO
        // per-dimension explode: Σ_dims avg_members = (Σ_members
        // Σ_dims x)/n, so one scalar per vector folds it. Scale:
        // centroids broadcast (k rows), assignment is map-side, the
        // recompute is one |k|-group aggregate — the standard
        // distributed-kmeans step with the k×dims explode avoided.
        import org.apache.spark.sql.expressions.Window
        val e = emb(s, dir)
        val cents = e.orderBy("vec_id").limit(4)
          .select(row_number().over(Window.orderBy("vec_id"))
            .cast("long").as("cid"), col("em").as("ce"))
        val scored = e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"), col("em"),
            cosine(col("em"), col("ce")).as("cos"))
        val wv = Window.partitionBy("vec_id").orderBy(desc("cos"), asc("cid"))
        scored.withColumn("rn", row_number().over(wv))
          .where(col("rn") === 1)
          .withColumn("elemsum",
            aggregate(col("em"), lit(0.0), (a, x) => a + x))
          .groupBy("cid")
          .agg(count(lit(1)).as("n"),
            round(avg(col("cos")), 4).as("avg_cos"),
            round(sum(col("elemsum")) / count(lit(1)), 4).as("centroid_sum"))
          .orderBy("cid")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS em FROM embeddings),
             | c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, em AS ce
             |       FROM e ORDER BY vec_id LIMIT 4),
             | sc AS (SELECT e.vec_id, c.cid, e.em,
             |               list_cosine_similarity(e.em, c.ce) AS cos
             |        FROM e, c),
             | a AS (SELECT vec_id, cid, em, cos,
             |              row_number() OVER (PARTITION BY vec_id
             |                                 ORDER BY cos DESC, cid) AS rn
             |       FROM sc)
             |SELECT CAST(cid AS BIGINT) AS cid, CAST(count(*) AS BIGINT) AS n,
             |       round(avg(cos), 4) AS avg_cos,
             |       round(sum(list_sum(em)) / count(*), 4) AS centroid_sum
             |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin))
  )
}
