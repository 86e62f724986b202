package graft

import graft.operators.SimilarityOps
import graft.operators.SimilarityOps.{SrpMaxPlanes, SrpStride}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the one SRP keying path ([[SimilarityOps.srpKeyed]] over the
  * fused [[graft.functions.SrpSignBits]] kernel) to a plain-Scala
  * reference of the kernel's scaladoc contract: table t's key is
  * `t<<40 | Σ 2^pp` over the planes whose sign vector
  * `srpSigns(t·stride+pp)` has a non-negative dot with `em`, with the
  * null / wrong-length / null-element → bare prefix and NaN → bit SET
  * rules — under both codegen and interpreted evaluation, at the
  * strides of all three layouts (fixed, cap-12, grown).
  */
class SrpSignBitsSpec extends SparkSpec {

  private val dims = 64

  private def emb: DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("em"))

  private def keys(e: DataFrame, planes: Int, tables: Int,
      stride: Int = SrpStride): Seq[(Long, Long)] =
    SimilarityOps.srpKeyed(e, planes, tables, dims, stride)
      .select(col("vec_id"), col("bk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  /** The kernel contract in plain Scala: per plane the dot accumulates
    * `em[i] * sign[i]` in ascending index order in double, and the bit
    * is set unless `dot < 0` (Spark's NaN-aware `>=`: NaN sets it).
    */
  private def reference(e: DataFrame, planes: Int, tables: Int,
      stride: Int = SrpStride): Seq[(Long, Long)] = {
    val signs = Array.tabulate(tables, planes)((t, pp) =>
      SimilarityOps.srpSigns(t * stride + pp, dims).toArray)
    e.select(col("vec_id"), col("em")).collect().toSeq.flatMap { r =>
      val em: Option[Array[Double]] =
        if (r.isNullAt(1)) None
        else {
          val v = r.getSeq[Any](1)
          if (v.length != dims || v.contains(null)) None
          else Some(v.map(_.asInstanceOf[Double]).toArray)
        }
      (0 until tables).map { t =>
        val bits = em.fold(0L) { x =>
          (0 until planes).foldLeft(0L) { (acc, pp) =>
            var dot = 0.0
            for (i <- 0 until dims) dot += x(i) * signs(t)(pp)(i)
            if (dot < 0.0) acc else acc | (1L << pp)
          }
        }
        (r.getLong(0), (t.toLong << 40) | bits)
      }
    }.sorted
  }

  test("keys match the plain-Scala reference at every layout's stride (real embeddings)") {
    val e = emb
    // (planes, tables, stride): fixed 3×16, a cap-12 width, a grown width
    for ((p, t, stride) <- Seq((3, 16, 3), (9, 16, SrpMaxPlanes), (15, 22, SrpStride))) {
      val got = keys(e, p, t, stride)
      assert(got.nonEmpty, s"width $p:$t stride $stride produced no keys")
      assert(got === reference(e, p, t, stride), s"key divergence at width $p:$t stride $stride")
    }
  }

  // A null array, a wrong-length array, or any null ELEMENT keys to the
  // bare table prefix. A NaN element makes every plane's dot NaN, and
  // Spark's NaN-aware `>=` SETS the bit (NaN compares greater than
  // everything — same as DuckDB). The kernel must reproduce all four,
  // not just the happy path.
  test("edge rows: null / wrong-length / null-element / NaN-element keys match the reference exactly") {
    val edge = spark.range(5).toDF("vec_id").selectExpr("vec_id",
      """case
        |  when vec_id = 0 then transform(sequence(1, 64), i -> cast(i - 32 as double))
        |  when vec_id = 1 then cast(null as array<double>)
        |  when vec_id = 2 then array(cast(1.0 as double), cast(2.0 as double))
        |  when vec_id = 3 then transform(sequence(1, 64), i -> if(i = 5, cast(null as double), cast(i as double)))
        |  else transform(sequence(1, 64), i -> if(i = 5, cast('NaN' as double), cast(i as double)))
        |end as em""".stripMargin)
    val planes = 5
    val tables = 3
    val got = keys(edge, planes, tables)
    assert(got.nonEmpty)
    assert(got === reference(edge, planes, tables))
    val byId = got.groupBy(_._1)
    // null, wrong-length, null-element rows: all sign bits 0 → bare prefix
    for (id <- Seq(1L, 2L, 3L); (_, bk) <- byId(id))
      assert((bk & ((1L << 40) - 1)) === 0L, s"row $id must key to the bare table prefix")
    // NaN row: every plane's dot is NaN → every bit SET (NaN-aware >=)
    for ((_, bk) <- byId(4L))
      assert((bk & ((1L << 40) - 1)) === (1L << planes) - 1,
        "NaN dot must SET the sign bit — Spark/DuckDB NaN semantics")
    // table prefixes present once per table for every row
    assert(byId(0L).map(_._2 >> 40).sorted === (0L until tables))
  }

  test("interpreted eval matches codegen (factoryMode control)") {
    val p = 7; val t = 2
    def run(mode: String): Seq[(Long, Long)] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val e = s.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("em"))
      keys(e, p, t)
    }
    val codegen = run("CODEGEN_ONLY")
    assert(codegen.nonEmpty)
    assert(run("NO_CODEGEN") === codegen)
  }

  test("cap guards fail loudly (r18 ADVICE): planes > 40 or tables >= 2^23 must not silently corrupt keys") {
    val e = emb
    intercept[IllegalArgumentException](SimilarityOps.srpKeyed(e, 41, 2, dims, SrpStride))
    intercept[IllegalArgumentException](SimilarityOps.srpKeyed(e, 3, 1 << 23, dims, SrpStride))
    // a stride narrower than the key would hand tables each other's planes
    intercept[IllegalArgumentException](SimilarityOps.srpKeyed(e, 13, 2, dims, SrpMaxPlanes))
  }
}
