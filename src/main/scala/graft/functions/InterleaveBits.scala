package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) interleave of two 16-bit ranks into one sort key —
  * the clustering primitive behind multi-dimensional data skipping:
  * sorting files by the interleaved key keeps BOTH dimensions locally
  * dense, so parquet min/max stats prune on either predicate (a
  * single-column sort only prunes its own column).
  *
  * Inputs are int ranks already scaled to [0, 65535] by the caller
  * (`Layout.writeZOrdered` does the min/max scaling); values are masked
  * to 16 bits here so out-of-range inputs cannot corrupt the key.
  * Codegen'd (static call); null if either side is null.
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.morton16(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits$$.MODULE$$.morton16($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object InterleaveBits {

  /** Spread the low 16 bits of x to even bit positions (0, 2, 4, ...). */
  private def spread16(x0: Int): Long = {
    var x = (x0 & 0xFFFF).toLong
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** 32-bit Morton key: a's bits at even positions, b's at odd. */
  def morton16(a: Int, b: Int): Long =
    spread16(a) | (spread16(b) << 1)

  def z_interleave(a: String, b: String): Column = expr(s"z_interleave($a, $b)")
}
