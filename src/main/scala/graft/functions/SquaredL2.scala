package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: squared Euclidean distance of two
  * array<double> or array<float> columns (float widened per element,
  * accumulated in double — exact per IEEE 754)
  * — the quantization metric of the PQ/IVF
  * family (codebook assignment and ADC lookup tables score by L2²).
  *
  * One fused loop, no intermediate zipped-array allocation, inlined
  * into whole-stage codegen (the `aggregate(zip_with(...))` HOF form
  * it replaces is interpreted per row — measured 5× slower across
  * `sim_ann_pq_adc` at sf0.1). Accumulates `(x[i]-y[i])²` in
  * sequential index order, so results are bit-identical to that HOF
  * form and to DuckDB's sequential
  * `list_sum([(a[i]-b[i])*(a[i]-b[i]) for i ...])` — the expression
  * the oracles inline. Mismatched lengths or a null element yield
  * NULL (same contract as [[DotProduct]]).
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // array<float> widened per element, accumulated in double — same
  // contract as CosineSimilarity/DotProduct; guards against silently
  // reading a float-backed UnsafeArrayData with getDouble (r17 float32
  // SRP transit hazard).
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"squared_l2 expects array<double>/array<float> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloatArray(left); val yf = isFloatArray(right)
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
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
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      double $d = $getX - $getY;
         |      $acc += $d * $d;
         |    }
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SquaredL2 {

  /** Column API by SQL expression text. */
  def squared_l2(a: String, b: String): Column = expr(s"squared_l2($a, $b)")
}
