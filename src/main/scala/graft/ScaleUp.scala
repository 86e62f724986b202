package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize an N×-scale replica of a testdata SF directory for the
  * scale-stress wave (SCALE.md "measured, not extrapolated") — every
  * prior scale claim was extrapolated from sf0.1 plans, this gives the
  * heaviest queries a real 10× run.
  *
  * Replication is KEY-REMAPPED, not naive: replica r's foreign keys are
  * offset by r×stride(table) so referential fan-out is preserved
  * exactly — a 10× corpus means 10× the join/agg work, never 100×.
  * Replica 0 is the identity, so sf0.1 results embed in the sf1 run.
  * Two tables additionally remap CONTENT, because duplicating payloads
  * verbatim would change the workload's complexity class, not just its
  * size:
  *
  *  - `documents.text`: every token gets a replica suffix (`~r`) for
  *    r>0 — within-replica gram structure (and thus per-replica dedup
  *    work) is identical, but replicas share no n-grams, so Jaccard /
  *    MinHash pair counts scale ×N instead of ×N² (10 verbatim copies
  *    of each doc would put every copy-pair over every threshold).
  *  - `embeddings.embedding`: replica r applies a SEEDED SIGNED
  *    PERMUTATION of the dimensions (`em'[i] = s_r[i]·em[π_r[i]]`,
  *    Fisher-Yates π_r and ±1 signs from a per-replica seed) — norms
  *    and the coordinate distribution are preserved exactly, but
  *    remapped replicas land in different SRP/IVF/PQ buckets, so ANN
  *    candidate counts scale like a genuinely bigger corpus rather
  *    than ×N² same-bucket collisions. The r13 CIRCULAR-ROTATION remap
  *    had only 64 distinct images for a 64-dim vector, which capped
  *    embedding factors at 64 (replicas 64 apart were exact
  *    duplicates, quietly re-quadratizing every ANN measurement);
  *    signed permutations have 64!·2^64 images, so any factor the
  *    sandbox can hold is collision-free.
  *
  * Tiny dims (region, nation) are copied as-is: real scale-ups grow
  * facts, not the 25-row nation list, and the star-join broadcast story
  * depends on dims STAYING broadcast-size.
  *
  * Usage: `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"`
  *
  * An optional 4th arg restricts which tables get the factor (comma-
  * separated; everything else is copied at 1×):
  * `... /tmp/sf6x 60 documents,embeddings` — the second-decade wave
  * shape, where the LLM-corpus tables grow another decade but the
  * TPC-H facts stay at the measured 10× so the run fits the sandbox.
  * The restriction set is validated: unknown names are rejected (a
  * typo would silently write a 1× copy labeled as a scaled dataset),
  * and it must be FK-CLOSED — scaling `orders` without `customer` (or
  * `lineitem` without `orders`/`part`/`supplier`) writes dangling
  * foreign keys that silently shrink every join measured against the
  * dataset.
  */
object ScaleUp {

  /** Per-replica signed permutation (1-based indices for `element_at`,
    * ±1.0 signs), seeded from the replica id alone so re-runs are
    * byte-identical. Replica 0 is forced to the identity (the sf0.1
    * results embed in every scaled run).
    */
  def signedPerm(r: Long, dims: Int): (Seq[Int], Seq[Double]) =
    if (r == 0) ((1 to dims), Seq.fill(dims)(1.0))
    else {
      val rnd = new scala.util.Random(r * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
      (rnd.shuffle((1 to dims).toVector), Vector.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0))
    }

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, "factor must be >= 1")
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val known = Tables.names.toSet
    require(only.subsetOf(known),
      s"unknown table(s) in restriction set: ${(only -- known).toList.sorted.mkString(", ")} " +
        s"(a typo here silently yields a 1x copy labeled as scaled)")
    def fkClosed(child: String, parents: String*): Unit =
      if (only(child)) parents.foreach(p => require(only(p),
        s"restriction set must be FK-closed: scaling '$child' remaps $p keys — add '$p' " +
          s"or the scaled $child rows dangle and every join against it silently shrinks"))
    fkClosed("orders", "customer")
    fkClosed("lineitem", "orders", "part", "supplier")
    def tableFactor(name: String): Int =
      if (only.isEmpty || only(name)) factor else 1
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    def src_(name: String): DataFrame = Tables.t(spark, src, name)

    /** Next power of 10 above the table's max id — keys stay readable
      * (replica = leading digit) and strides can never collide.
      */
    def stride(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var s = 1L
      while (s <= mx) s *= 10
      s
    }

    val custS = stride(src_("customer"), "c_custkey")
    val suppS = stride(src_("supplier"), "s_suppkey")
    val partS = stride(src_("part"), "p_partkey")
    val orderS = stride(src_("orders"), "o_orderkey")
    val eventS = stride(src_("events"), "event_id")
    val userS = stride(src_("events"), "user_id")
    val docS = stride(src_("documents"), "doc_id")
    val vecS = stride(src_("embeddings"), "vec_id")

    /** One pass: cross the source with the table's replica ids, then
      * remap (1× for tables outside the restriction list).
      */
    def replicateAs(df: DataFrame, name: String)(remap: (DataFrame, org.apache.spark.sql.Column) => DataFrame): DataFrame = {
      val r = explode(sequence(lit(0L), lit(tableFactor(name) - 1L))).as("__r")
      remap(df.select(col("*"), r), col("__r")).drop("__r")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dest/$name.parquet").count()} rows")
    }

    write(src_("region"), "region")
    write(src_("nation"), "nation")
    write(replicateAs(src_("customer"), "customer") { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * custS)
    }, "customer")
    write(replicateAs(src_("supplier"), "supplier") { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * suppS)
    }, "supplier")
    write(replicateAs(src_("part"), "part") { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * partS)
    }, "part")
    write(replicateAs(src_("orders"), "orders") { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * orderS)
        .withColumn("o_custkey", col("o_custkey") + r * custS)
    }, "orders")
    write(replicateAs(src_("lineitem"), "lineitem") { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * orderS)
        .withColumn("l_partkey", col("l_partkey") + r * partS)
        .withColumn("l_suppkey", col("l_suppkey") + r * suppS)
    }, "lineitem")
    // events keep their time range (densification, the realistic
    // scale-up for a fixed retention window) — only identities shift
    write(replicateAs(src_("events").select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")), "events") { (d, r) =>
      d.withColumn("event_id", col("event_id") + r * eventS)
        .withColumn("user_id", col("user_id") + r * userS)
    }, "events")
    write(replicateAs(src_("documents"), "documents") { (d, r) =>
      d.withColumn("doc_id", col("doc_id") + r * docS)
        .withColumn("text",
          when(r === 0, col("text")).otherwise(
            array_join(transform(split(col("text"), " "),
              t => when(t === "", t)
                .otherwise(concat(t, lit("~"), r.cast("string")))), " ")))
    }, "documents")
    // signed-permutation content remap: one (π_r, s_r) pair per replica,
    // precomputed on the driver and shipped as ONE nested-array literal
    // each (constant-folded — never a per-row closure), applied as
    // em'[i] = s_r[i]·em[π_r[i]] with the element cast back to the
    // source element type (±1.0 is exact in float, so the cast is
    // lossless and norms are bit-preserved)
    val embSrc = src_("embeddings")
    val embDims = embSrc.select(size(col("embedding"))).head().getInt(0)
    val embElemT = embSrc.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val embF = tableFactor("embeddings")
    val perms: Seq[Seq[Int]] = (0 until embF).map(r => signedPerm(r, embDims)._1.toVector)
    val signs: Seq[Seq[Double]] = (0 until embF).map(r => signedPerm(r, embDims)._2.toVector)
    val permLit = typedLit(perms)
    val signLit = typedLit(signs)
    write(replicateAs(embSrc, "embeddings") { (d, r) =>
      d.withColumn("vec_id", col("vec_id") + r * vecS)
        .withColumn("embedding",
          when(r === 0, col("embedding")).otherwise(
            transform(sequence(lit(0), lit(embDims - 1)), i =>
              (element_at(element_at(signLit, (r + 1).cast("int")), (i + 1).cast("int")) *
                element_at(col("embedding"),
                  element_at(element_at(permLit, (r + 1).cast("int")), (i + 1).cast("int"))))
                .cast(embElemT))))
    }, "embeddings")

    println(s"[scaleup] wrote ${factor}x of $src to $dest")
    spark.stop()
  }
}
