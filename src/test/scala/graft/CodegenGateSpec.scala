package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Codegen-compiles gate for every custom Catalyst kernel (VERDICT r9
  * item 2). Each expression is bound to `BoundReference` inputs and run
  * through `GenerateUnsafeProjection.generate`, which compiles the
  * generated Java with janino and THROWS on any compile error — there
  * is no interpreted fallback at this layer (fallback lives one level
  * up in `UnsafeProjection.createObject`). So the exact failure mode
  * that shipped in r9 — `SimHash32.doGenCode` emitting a call with no
  * static forwarder, janino failing, the whole stage silently running
  * interpreted — is a red test here, not a log line nobody reads.
  *
  * Each gate also cross-checks the compiled result against the
  * interpreted `expr.eval`, and pushes a null through to pin null-safe
  * codegen. `PosWordGrams` is excluded by design: it is a `Generator
  * with CodegenFallback` (generators don't participate in expression
  * codegen), documented at its definition.
  */
class CodegenGateSpec extends AnyFunSuite {

  private def ref(i: Int, dt: DataType) = BoundReference(i, dt, nullable = true)

  /** Normalize catalyst values for comparison across compiled/interpreted. */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                      => null
    case (s: UTF8String, _)             => s.toString
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toObjectArray(et).map(norm(_, et)).toSeq
    case (r: InternalRow, st: StructType) =>
      st.fields.toSeq.zipWithIndex.map { case (f, i) => norm(r.get(i, f.dataType), f.dataType) }
    case (x, _)                         => x
  }

  private def gate(name: String, expr: Expression,
                   rows: Seq[InternalRow]): Unit =
    test(s"codegen gate: $name compiles and matches interpreted eval") {
      // Throws (janino CompileException) if the generated code is invalid.
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      rows.foreach { row =>
        val compiled = norm(proj(row).get(0, expr.dataType), expr.dataType)
        val interp   = norm(expr.eval(row), expr.dataType)
        assert(compiled === interp, s"row=$row")
      }
    }

  private def utf8(s: String) = UTF8String.fromString(s)
  private def strArr(xs: String*) =
    new GenericArrayData(xs.map(x => if (x == null) null else utf8(x)).toArray[Any])
  private def dblArr(xs: Double*) = new GenericArrayData(xs.toArray[Any])
  private def lngArr(xs: Long*)   = new GenericArrayData(xs.toArray[Any])

  private val vecType = ArrayType(DoubleType)
  private val vRows = Seq(
    InternalRow(dblArr(1.0, 2.0, 3.0), dblArr(-1.0, 0.5, 2.0)),
    InternalRow(dblArr(0.0, 0.0), dblArr(0.0, 0.0)),
    InternalRow(null, dblArr(1.0)))

  gate("CosineSimilarity", CosineSimilarity(ref(0, vecType), ref(1, vecType)), vRows)
  gate("DotProduct",       DotProduct(ref(0, vecType), ref(1, vecType)), vRows)
  gate("SquaredL2",        SquaredL2(ref(0, vecType), ref(1, vecType)), vRows)

  // array<float> legs (r17 advisor): all three vector kernels must widen
  // float elements rather than call getDouble on a 4-byte lane — which
  // returns garbage SILENTLY on UnsafeArrayData. Same values as vRows'
  // first row, float-originated, plus the mixed float/double signature.
  private def fltArr(xs: Float*) = new GenericArrayData(xs.toArray[Any])
  private val vecFType = ArrayType(FloatType)
  private val vfRows = Seq(
    InternalRow(fltArr(1.0f, 2.0f, 3.0f), fltArr(-1.0f, 0.5f, 2.0f)),
    InternalRow(fltArr(0.0f, 0.0f), fltArr(0.0f, 0.0f)),
    InternalRow(null, fltArr(1.0f)))
  gate("CosineSimilarity f32", CosineSimilarity(ref(0, vecFType), ref(1, vecFType)), vfRows)
  gate("DotProduct f32",       DotProduct(ref(0, vecFType), ref(1, vecFType)), vfRows)
  gate("SquaredL2 f32",        SquaredL2(ref(0, vecFType), ref(1, vecFType)), vfRows)
  private val vMixRows = Seq(InternalRow(fltArr(1.0f, 2.0f, 3.0f), dblArr(-1.0, 0.5, 2.0)))
  gate("DotProduct f32/f64 mixed", DotProduct(ref(0, vecFType), ref(1, vecType)), vMixRows)
  gate("SquaredL2 f32/f64 mixed",  SquaredL2(ref(0, vecFType), ref(1, vecType)), vMixRows)

  // r19 fused SRP keying kernel: 2 planes × 3 dims, prefix = table 1.
  // Rows exercise the whole ladder of the kernel's scaladoc contract:
  // normal, all-negative dots, null array, WRONG-LENGTH array, null
  // element, and NaN (Spark's NaN-aware >= must SET the bit).
  private val srpSigns23 = Seq(1.0, -1.0, 1.0, -1.0, -1.0, 1.0)
  gate("SrpSignBits",
    SrpSignBits(ref(0, vecType), 1L << 40, planes = 2, dims = 3, signs = srpSigns23),
    Seq(
      InternalRow(dblArr(1.0, 2.0, 3.0), dblArr(0.0)),
      InternalRow(dblArr(-5.0, 0.0, -1.0), dblArr(0.0)),
      InternalRow(null, dblArr(0.0)),
      InternalRow(dblArr(1.0, 2.0), dblArr(0.0)),
      InternalRow(new GenericArrayData(Array[Any](1.0, null, 3.0)), dblArr(0.0)),
      InternalRow(dblArr(Double.NaN, 2.0, 3.0), dblArr(0.0))))
  gate("SrpSignBits f32",
    SrpSignBits(ref(0, vecFType), 1L << 40, planes = 2, dims = 3, signs = srpSigns23),
    Seq(
      InternalRow(fltArr(1.0f, 2.0f, 3.0f), dblArr(0.0)),
      InternalRow(null, dblArr(0.0))))

  test("SrpSignBits: the ladder lands where the unfused tree landed it") {
    val e = SrpSignBits(ref(0, vecType), 1L << 40, planes = 2, dims = 3, signs = srpSigns23)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    def k(row: InternalRow): Long = proj(row).getLong(0)
    // normal: p0 = 1-2+3 = 2 >= 0 → bit0; p1 = -1-2+3 = 0 >= 0 → bit1
    assert(k(InternalRow(dblArr(1.0, 2.0, 3.0))) === ((1L << 40) | 3L))
    // null / wrong-length / null-element → bare prefix
    assert(k(InternalRow(null)) === (1L << 40))
    assert(k(InternalRow(dblArr(1.0, 2.0))) === (1L << 40))
    assert(k(InternalRow(new GenericArrayData(Array[Any](1.0, null, 3.0)))) === (1L << 40))
    // NaN dot → bit SET (NaN-aware >=, matches Spark SQL and DuckDB)
    assert(k(InternalRow(dblArr(Double.NaN, 2.0, 3.0))) === ((1L << 40) | 3L))
  }

  test("vector kernels: float-originated inputs score bit-identically to the double kernel") {
    // float→double widening is exact (IEEE 754), so on values that
    // round-trip through float the f32 kernel must equal the f64 one —
    // the property the r17 SRP transit rests on.
    val fRow = InternalRow(fltArr(1.5f, -2.25f, 0.125f), fltArr(4.0f, 0.5f, -8.0f))
    val dRow = InternalRow(dblArr(1.5, -2.25, 0.125), dblArr(4.0, 0.5, -8.0))
    Seq[(Expression, Expression)](
      (DotProduct(ref(0, vecFType), ref(1, vecFType)), DotProduct(ref(0, vecType), ref(1, vecType))),
      (SquaredL2(ref(0, vecFType), ref(1, vecFType)), SquaredL2(ref(0, vecType), ref(1, vecType))),
      (CosineSimilarity(ref(0, vecFType), ref(1, vecFType)), CosineSimilarity(ref(0, vecType), ref(1, vecType)))
    ).foreach { case (f, d) =>
      assert(java.lang.Double.doubleToLongBits(f.eval(fRow).asInstanceOf[Double]) ===
        java.lang.Double.doubleToLongBits(d.eval(dRow).asInstanceOf[Double]), f.getClass.getName)
    }
  }

  test("vector kernels: non-numeric array inputs fail analysis, not silently") {
    Seq[Expression](
      DotProduct(ref(0, ArrayType(StringType)), ref(1, vecType)),
      SquaredL2(ref(0, ArrayType(LongType)), ref(1, vecType)),
      CosineSimilarity(ref(0, StringType), ref(1, vecType))
    ).foreach(e => assert(!e.checkInputDataTypes().isSuccess, e.getClass.getName))
  }

  private val sRows = Seq(
    InternalRow(utf8("MARTHA"), utf8("MARHTA")),
    InternalRow(utf8(""), utf8("x")),
    InternalRow(null, utf8("y")))
  gate("JaroWinkler", JaroWinkler(ref(0, StringType), ref(1, StringType)), sRows)

  private val tRows = Seq(
    InternalRow(utf8("Café du  Monde — ﬁne!")),
    InternalRow(utf8("")),
    InternalRow(null))
  gate("NormalizeText fold=false", NormalizeText(ref(0, StringType), fold = false), tRows)
  gate("NormalizeText fold=true",  NormalizeText(ref(0, StringType), fold = true), tRows)

  private val gRows = Seq(
    InternalRow(utf8("the quick brown fox jumps over the lazy dog")),
    InternalRow(utf8("ab")),
    InternalRow(null))
  gate("Md5GramHashes k=5",    Md5GramHashes(ref(0, StringType), 5), gRows)
  gate("RollingHashGrams k=5", RollingHashGrams(ref(0, StringType), 5), gRows)
  gate("WordGramHashes n=3",   WordGramHashes(ref(0, StringType), 3), gRows)

  gate("SimHash32 seed=0", SimHash32(ref(0, ArrayType(StringType)), 0), Seq(
    InternalRow(strArr("alpha", "beta", "gamma", "alpha")),
    InternalRow(strArr()),
    InternalRow(strArr("solo", null, "duo")),
    InternalRow(null)))
  gate("SimHash32 seed=1", SimHash32(ref(0, ArrayType(StringType)), 1), Seq(
    InternalRow(strArr("alpha", "beta", "gamma", "alpha")),
    InternalRow(strArr()),
    InternalRow(strArr("solo", null, "duo")),
    InternalRow(null)))

  gate("WindowMin w=4", WindowMin(ref(0, ArrayType(LongType)), 4), Seq(
    InternalRow(lngArr(9L, 3L, 7L, 1L, 8L, 2L, 6L)),
    InternalRow(lngArr(5L)),
    InternalRow(null)))

  gate("InterleaveBits", InterleaveBits(ref(0, IntegerType), ref(1, IntegerType)), Seq(
    InternalRow(3, 5),
    InternalRow(0, 65535),
    InternalRow(null, 1)))

  // taken records give a struct (fields + null _corrupt), declined ones
  // and null input give null
  private val jsonRows = Seq(
    InternalRow(utf8("""{"id":7,"msg":"a","extra":[1,{"x":null}]}""")),
    InternalRow(utf8("""{"msg":"only"}""")),
    InternalRow(utf8("""{"id":7,"id":8}""")),
    InternalRow(utf8("not json")),
    InternalRow(null))
  gate("FlatJsonParse msgSchema", FlatJsonParse(ref(0, StringType), graft.operators.Ingest.msgSchema), jsonRows)
  gate("FlatJsonParse binary input cast",
    FlatJsonParse(Cast(ref(0, BinaryType), StringType), graft.operators.Ingest.msgSchema),
    Seq(InternalRow("""{"id":1,"msg":"b"}""".getBytes("UTF-8")), InternalRow(null)))

  // the parse as Ingest.parseTagged builds it: declined rows answered by
  // from_json's evaluator
  private val fused = FlatJsonParse(ref(0, StringType), graft.operators.Ingest.msgSchema,
    Some(JsonToStructsEvaluator(FlatJsonParse.Options, FlatJsonParse.withCorrupt(graft.operators.Ingest.msgSchema),
      "_corrupt_record", Some("UTC"), variantAllowDuplicateKeys = false)))
  gate("FlatJsonParse with the from_json fallback", fused, jsonRows)

  test("FlatJsonParse with the fallback: compiled declined and corrupt rows are from_json's") {
    val proj = GenerateUnsafeProjection.generate(Seq(fused))
    val st = FlatJsonParse.withCorrupt(graft.operators.Ingest.msgSchema)
    def out(row: InternalRow) = norm(proj(row).getStruct(0, 3), st)
    assert(out(jsonRows(0)) === Seq(7L, "a", null))
    assert(out(jsonRows(2)) === norm(fused.exact.get.evaluate(jsonRows(2).getUTF8String(0)), st))
    assert(out(jsonRows(3)) === Seq(null, null, "not json"))
    assert(proj(jsonRows(4)).isNullAt(0))
  }

  test("FlatJsonParse: compiled rows carry the fields, a null _corrupt, and null where declined") {
    val proj = GenerateUnsafeProjection.generate(
      Seq(FlatJsonParse(ref(0, StringType), graft.operators.Ingest.msgSchema)))
    def out(row: InternalRow) = {
      val r = proj(row)
      if (r.isNullAt(0)) null else norm(r.getStruct(0, 3), FlatJsonParse.withCorrupt(graft.operators.Ingest.msgSchema))
    }
    assert(out(jsonRows(0)) === Seq(7L, "a", null))
    assert(out(jsonRows(1)) === Seq(null, "only", null))
    assert(out(jsonRows(2)) === null)
    assert(out(jsonRows(3)) === null)
    assert(out(jsonRows(4)) === null)
  }
}
