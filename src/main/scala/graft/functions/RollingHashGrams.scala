package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Rabin-Karp rolling hash over byte k-grams: returns the array of
  * polynomial hashes h_i = Σ b_{i+j}·B^{k-1-j} (mod 2^64, natural
  * overflow) for every k-gram of the UTF-8 bytes — computed
  * INCREMENTALLY, O(n) total instead of the O(n·k) of hashing each gram
  * from scratch. This is the scale-path gram hasher for winnowing
  * fingerprints (`text_winnow_fingerprint` uses the md5-portable variant
  * so DuckDB can replay it; this expression is the production hot path).
  *
  * Codegen'd via doGenCode; null input → null.
  */
case class RollingHashGrams(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "gram size must be >= 1")

  private val B = 1000003L
  // B^(k-1) mod 2^64 — the subtract-leading-byte multiplier
  private val bPow: Long = (1 until k).foldLeft(1L)((acc, _) => acc * B)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    var h = 0L
    var j = 0
    while (j < k) { h = h * B + (bytes(j) & 0xFF); j += 1 }
    out(0) = h
    var i = 1
    while (i < n) {
      h = (h - (bytes(i - 1) & 0xFF) * bPow) * B + (bytes(i + k - 1) & 0xFF)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |int $n = $bytes.length - $k + 1;
         |if ($n <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $out = new long[$n];
         |  long $h = 0L;
         |  for (int $i = 0; $i < $k; $i++) { $h = $h * ${B}L + ($bytes[$i] & 0xFF); }
         |  $out[0] = $h;
         |  for (int $i = 1; $i < $n; $i++) {
         |    $h = ($h - ($bytes[$i - 1] & 0xFF) * ${bPow}L) * ${B}L + ($bytes[$i + $k - 1] & 0xFF);
         |    $out[$i] = $h;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RollingHashGrams {

  def rolling_hash_grams(textCol: String, k: Int): Column =
    expr(s"rolling_hash_grams($textCol, $k)")
}
