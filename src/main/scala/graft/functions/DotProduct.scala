package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: inner product of two array<double> or
  * array<float> columns (float widened per element, accumulated in
  * double — exact per IEEE 754, so float-originated values score
  * bit-identically to the double kernel)
  * — the MIPS (maximum-inner-product search) scorer, the
  * retrieval metric for embeddings trained with a dot-product objective
  * (cosine's unnormalized sibling; see [[CosineSimilarity]]).
  *
  * One fused loop, no intermediate zipped-array allocation, inlined into
  * whole-stage codegen. Accumulates in sequential index order so results
  * are bit-identical to the `aggregate(zip_with(...))` HOF form and to
  * DuckDB's `list_inner_product` on `DOUBLE[]` of EQUAL length.
  * Malformed inputs don't silently truncate: mismatched lengths or a
  * null element yield NULL (Spark's null-propagation convention, and
  * what the zip_with HOF form computes — DuckDB raises on mismatch, so
  * no well-formed cross-engine result ever diverges).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // array<float> widened per element, accumulated in double — same
  // contract as CosineSimilarity. Without this, ArrayData.getDouble on a
  // float-backed UnsafeArrayData reads 8 bytes off a 4-byte lane and
  // returns garbage SILENTLY — the exact hazard the r17 float32 SRP
  // transit created for any future consumer of the grown-keyed frame.
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<double>/array<float> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloatArray(left); val yf = isFloatArray(right)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      // element-type getters resolved at PLAN time (same pattern as
      // CosineSimilarity): the generated loop body is branch-free
      val getX =
        if (isFloatArray(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY =
        if (isFloatArray(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      $dot += $getX * $getY;
         |    }
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object DotProduct {

  /** Column API by SQL expression text. */
  def dot_product(a: String, b: String): Column = expr(s"dot_product($a, $b)")
}
