package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sliding-window minimum over an array<long>: element i of the result
  * is min(a[i], …, a[i+w-1]) for every full window — the SELECTION step
  * of winnowing fingerprints (min-of-each-window over gram hashes).
  *
  * Runs the monotonic-deque algorithm: O(n) total, vs the O(n·w) of
  * `transform(sequence(...), j -> array_min(slice(a, j, w)))` — and
  * that HOF form is interpreted per element with a w-slice allocation
  * each (measured ~3 s of `text_winnow_fingerprint`'s 9 s at sf0.1).
  * The minima of the same values are the same in any engine, so
  * swapping this in changes NOTHING the DuckDB oracle observes.
  *
  * Codegen'd via doGenCode; null input → null; w > n → empty array.
  */
case class WindowMin(child: Expression, w: Int)
    extends UnaryExpression {

  require(w >= 1, "window size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData].toLongArray()
    val n = a.length - w + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n)
    val deque = new Array[Int](a.length) // indices, front=head..tail-1
    var head = 0
    var tail = 0
    var i = 0
    while (i < a.length) {
      if (head < tail && deque(head) <= i - w) head += 1
      while (head < tail && a(deque(tail - 1)) >= a(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (i >= w - 1) out(i - w + 1) = a(deque(head))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val a = ctx.freshName("a")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val dq = ctx.freshName("dq")
      val head = ctx.freshName("head")
      val tail = ctx.freshName("tail")
      val i = ctx.freshName("i")
      s"""
         |long[] $a = $c.toLongArray();
         |int $n = $a.length - $w + 1;
         |if ($n <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $out = new long[$n];
         |  int[] $dq = new int[$a.length];
         |  int $head = 0, $tail = 0;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    if ($head < $tail && $dq[$head] <= $i - $w) $head++;
         |    while ($head < $tail && $a[$dq[$tail - 1]] >= $a[$i]) $tail--;
         |    $dq[$tail++] = $i;
         |    if ($i >= $w - 1) $out[$i - $w + 1] = $a[$dq[$head]];
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WindowMin {

  def window_min(arrCol: String, w: Int): Column =
    expr(s"window_min($arrCol, $w)")
}
