package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Fused SRP keying kernel (r19, guide §4 "expressions and codegen"):
  * computes ONE packed bucket key `prefix | Σ (dot(em, sign_pp) >= 0 ?
  * 1L<<pp : 0)` for one hash table, with the whole `planes × dims` sign
  * matrix held as a CODEGEN REFERENCE OBJECT (`double[]` in the
  * generated class's references array) instead of `planes` inlined
  * 64-literal `array(...)` expressions.
  *
  * Why a fused kernel: the r14-r18 keying expression
  * (`when(dot_product(em, array(<64 literals>)) >= 0, 1L<<pp)` folded
  * over planes, per table) generated a WSCG method of 28.6-59.5 KB of
  * bytecode at the production widths (r18 KeyDump probe) — past
  * HotSpot's 8000-byte JIT ceiling at every operating point and past
  * janino's 64 KB method limit at 13:18+. One small loop per table
  * over a reference array keeps the keying method at 2.7-3.6 K
  * bytecodes from 12:16 to 15:22 (it grows with tables, not with
  * planes), so the keying stage JITs at every measured width. [[graft.operators.SimilarityOps.srpKeyed]] is its only
  * production caller.
  *
  * Result contract (pinned by SrpSignBitsSpec's plain-Scala reference
  * and the oracle hashes): per plane the dot product accumulates
  * `em[i] * sign[i]` in ascending index order in double — exactly
  * [[DotProduct]]'s loop and DuckDB's `list_inner_product` — and the
  * key is `prefix + Σ 2^pp` (distinct powers of two, so `|` ≡ `+`). A
  * null `em`, a wrong-length `em`, or ANY null element returns `prefix`
  * (all sign bits 0). NaN: Spark SQL's `>=` on doubles is NaN-AWARE
  * (`SQLOrderingUtil.compareDoubles` — NaN compares greater than
  * everything, as in DuckDB), so a NaN dot SETS the bit; the kernel
  * therefore tests `!(dot < 0.0)`, which is true for NaN and for -0.0,
  * never Java's `dot >= 0.0` (false for NaN). Float elements widen per
  * element like DotProduct, though production keying always runs on
  * the pre-cast double column.
  */
case class SrpSignBits(
    child: Expression,
    prefix: Long,
    planes: Int,
    dims: Int,
    signs: Seq[Double])
  extends UnaryExpression {

  require(planes >= 1 && planes <= 40,
    s"srp_sign_bits: planes=$planes must be in [1, 40] — the packed key reserves the low 40 bits")
  require((prefix & ((1L << 40) - 1)) == 0L,
    s"srp_sign_bits: prefix=$prefix must have the low 40 bits clear (table id lives at <<40)")
  require(dims >= 1 && signs.length == planes * dims,
    s"srp_sign_bits: signs.length=${signs.length} must equal planes*dims=${planes * dims}")

  override def dataType: DataType = LongType

  // never null: every malformed input maps to `prefix` (all sign bits 0)
  override def nullable: Boolean = false

  private def isFloatArray: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_sign_bits expects array<double>/array<float> input, got ${other.catalogString}")
  }

  @transient private lazy val flatSigns: Array[Double] = signs.toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) prefix
    else {
      val x = v.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != dims) prefix
      else {
        val fl = isFloatArray
        var bits = 0L
        var pp = 0
        while (pp < planes) {
          var dot = 0.0
          val base = pp * dims
          var i = 0
          while (i < n) {
            if (x.isNullAt(i)) return prefix
            val xi = if (fl) x.getFloat(i).toDouble else x.getDouble(i)
            dot += xi * flatSigns(base + i)
            i += 1
          }
          // !(dot < 0) ≡ Spark's NaN-aware `dot >= 0` — see scaladoc
          if (!(dot < 0.0)) bits |= 1L << pp
          pp += 1
        }
        prefix | bits
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val signsRef = ctx.addReferenceObj("srpSignsFlat", flatSigns, "double[]")
    val n = ctx.freshName("n")
    val bits = ctx.freshName("bits")
    val bad = ctx.freshName("bad")
    val pp = ctx.freshName("pp")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    val base = ctx.freshName("base")
    // element getter resolved at PLAN time (same pattern as DotProduct)
    val getX =
      if (isFloatArray) s"(double) ${c.value}.getFloat($i)"
      else s"${c.value}.getDouble($i)"
    val javaCode = code"""
      ${c.code}
      long ${ev.value} = ${prefix}L;
      if (!${c.isNull}) {
        final int $n = ${c.value}.numElements();
        if ($n == $dims) {
          boolean $bad = false;
          long $bits = 0L;
          for (int $pp = 0; $pp < $planes && !$bad; $pp++) {
            double $dot = 0.0;
            final int $base = $pp * $dims;
            for (int $i = 0; $i < $n; $i++) {
              if (${c.value}.isNullAt($i)) { $bad = true; break; }
              $dot += $getX * $signsRef[$base + $i];
            }
            if (!$bad && !($dot < 0.0)) $bits |= (1L << $pp);
          }
          if (!$bad) ${ev.value} |= $bits;
        }
      }
    """
    ev.copy(code = javaCode, isNull = FalseLiteral)
  }

  override def prettyName: String = "srp_sign_bits"

  // keep toString bounded: 36×64 sign doubles would otherwise bloat
  // every explain/plan-lint dump this expression appears in
  override def toString: String =
    s"srp_sign_bits(${child.toString}, prefix=$prefix, planes=$planes, dims=$dims)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
