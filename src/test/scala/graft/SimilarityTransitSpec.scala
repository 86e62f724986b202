package graft

import graft.functions.CosineSimilarity
import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, transform}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Pins the r17 float32 SRP transit (see [[SimilarityOps.srpKeyed]]
  * scaladoc): the bucket exchange carries `em` as array<float> — halving
  * the one locally spill-bound term of the third-decade cost model — and
  * this must be a PURE PHYSICAL change: every score bit-identical to a
  * float64 control computed here over the original array<double>
  * column, because the source embeddings are fp32 parquet and
  * double→float→double is the identity on float-originated values.
  * Both adaptive layouts ride the same keying path, so both are checked.
  */
class SimilarityTransitSpec extends SparkSpec {

  private def emb(dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("em"))

  private val layouts = Seq("grown" -> SimilarityOps.SrpGrown, "cap12" -> SimilarityOps.SrpCap12)

  /** `scored`'s (a, b, score) rows next to the float64 control: cosine_sim
    * recomputed over the double `em` of both ids, both as raw bits.
    */
  private def withControl(scored: DataFrame, a: String, b: String): Seq[(Long, Long)] = {
    val e = emb(sf).select(col("vec_id"), col("em"))
    scored.select(col(a).as("a"), col(b).as("b"), col("score"))
      .join(e.select(col("vec_id").as("a"), col("em").as("ea")), "a")
      .join(e.select(col("vec_id").as("b"), col("em").as("eb")), "b")
      .select(col("score"), CosineSimilarity.cosine_sim("ea", "eb").as("control"))
      .collect().toSeq
      .map(r => (java.lang.Double.doubleToLongBits(r.getDouble(0)),
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("kernel: cosine_sim on array<float> widens exactly (bit-identical to the double kernel)") {
    // float-originated values, including negatives, zeros, and a
    // zero-norm row (kernel contract: 0.0, not NaN)
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .limit(50)
      .select(col("vec_id"),
        col("embedding").as("ef"),
        transform(col("embedding"), _.cast("double")).as("ed"))
    val both = rows.as("a").crossJoin(rows.as("b"))
      .select(
        CosineSimilarity.cosine_sim("a.ed", "b.ed").as("dd"),
        CosineSimilarity.cosine_sim("a.ef", "b.ef").as("ff"),
        CosineSimilarity.cosine_sim("a.ef", "b.ed").as("fd"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val dd = r.getDouble(0)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(dd), "float/float kernel diverged")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(dd), "mixed float/double kernel diverged")
    }
  }

  test("keyed frame carries float32 em for every layout stride") {
    val e = emb(sf).select(col("vec_id"), col("em"))
    for (stride <- Seq(4, SimilarityOps.SrpMaxPlanes, SimilarityOps.SrpStride))
      assert(SimilarityOps.srpKeyed(e, planes = 4, tables = 2, dims = 64, stride)
        .schema("em").dataType === ArrayType(FloatType),
        "the keyed frame must ship array<float> — the halved exchange payload")
  }

  // Scores compare UNROUNDED, via doubleToLongBits — rounding to 4
  // decimals would tolerate exactly the sub-1e-4 drift this spec exists
  // to rule out (r17 advisor). The oracle-side rounding contract lives
  // in the registry queries, not here.
  test("srpPairsAboveGrown: float32 transit is bit-identical to the f64 control leg") {
    val e = emb(sf).select(col("vec_id"), col("em"))
    for ((name, layout) <- layouts) {
      val got = withControl(
        SimilarityOps.srpPairsAboveGrown(e, dims = 64, thresh = 0.4, layout), "va", "vb")
      assert(got.nonEmpty, s"$name: parity over an empty result set proves nothing")
      got.foreach { case (score, control) =>
        assert(score === control, s"$name: float32-transit score diverged from float64")
      }
    }
  }

  test("annTopKPortableGrown: float32 transit is bit-identical to the f64 control leg") {
    val d = emb(sf)
    for ((name, layout) <- layouts) {
      val got = withControl(
        SimilarityOps.annTopKPortableGrown(d, k = 5, dims = 64, layout), "qid", "vec_id")
      assert(got.nonEmpty, s"$name: parity over an empty result set proves nothing")
      got.foreach { case (score, control) =>
        assert(score === control, s"$name: float32-transit score diverged from float64")
      }
    }
  }
}
