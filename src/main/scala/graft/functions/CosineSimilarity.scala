package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two array<double>
  * or array<float> columns in ONE fused pass (dot product and both
  * norms accumulated in a single loop), with whole-stage codegen via
  * doGenCode.
  *
  * The composed higher-order-function form
  * (`aggregate(zip_with(a,b,*)) / (sqrt(...)*sqrt(...))`) walks each
  * array three times and allocates an intermediate zipped array per row
  * pair; on a large ANN rerank that allocation is the hot path. This
  * expression keeps the exact same floating-point operation ORDER
  * (sequential index-order adds) so results are bit-identical to the HOF
  * form and to the DuckDB oracle's `list_cosine_similarity` on
  * `DOUBLE[]`.
  *
  * array<float> inputs (each side independently) are widened per element
  * and ACCUMULATED IN DOUBLE — and since float→double widening is exact
  * (IEEE 754: every float is a double), the result is bit-identical to
  * running the double kernel on the widened arrays. This is what makes
  * the r17 float32 SRP transit a pure physical optimization: the
  * embeddings table stores `list<float>` on disk, the scan widens it to
  * double, and the grown keying casts it back for the bucket exchange —
  * double→float→double on float-originated values is the identity, so
  * scores (and the 386-query oracle hashes) are unchanged while the
  * N·tables array exchange/sort payload halves (the one locally
  * spill-bound term in SCALE.md's third-decade cost decomposition).
  *
  * Returns null if either input is null; 0.0 when either norm is 0.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<double>/array<float> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = isFloatArray(left); val yf = isFloatArray(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      // element-type getters resolved at PLAN time, not per row: the
      // generated loop body is branch-free either way, and the float
      // widen is a no-op lane conversion under JIT
      val getX =
        if (isFloatArray(left)) s"(double) $x.getFloat($i)" else s"$x.getDouble($i)"
      val getY =
        if (isFloatArray(right)) s"(double) $y.getFloat($i)" else s"$y.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getX;
         |  double $yi = $getY;
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSimilarity {

  /** Column API: cosine similarity of two array<double> columns (by SQL
    * expression text).
    */
  def cosine_sim(a: String, b: String): Column = expr(s"cosine_sim($a, $b)")
}
