package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler similarity of two string
  * columns — the fuzzy-match scorer Spark lacks natively (it only ships
  * `levenshtein`). Semantics match DuckDB's `jaro_winkler_similarity`
  * (differentially validated on random corpora): standard Jaro with
  * match window `max(|a|,|b|)/2 - 1`, Winkler prefix boost (scale 0.1,
  * prefix capped at 4) applied only when the Jaro score exceeds 0.7,
  * and 0.0 whenever either side is empty.
  *
  * The kernel lives in a static method and is invoked from generated
  * code, so the expression participates in whole-stage codegen (no
  * interpreted fallback, no row boxing) — the same pattern Spark itself
  * uses for `levenshtein`. Null-safe: null in → null out.
  *
  * Scale note: a fuzzy self-join should always block first (brand,
  * bucket, sorted-neighborhood key …) so this runs on candidate pairs,
  * never on the full cross product.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler$$.MODULE$$.sim($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {

  /** Jaro-Winkler similarity over UTF-16 code units (identical to the
    * byte-wise reference for ASCII inputs).
    */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString.toCharArray
    val t = b.toString.toCharArray
    val j = jaro(s, t)
    if (j > 0.7) {
      var p = 0
      val maxP = math.min(4, math.min(s.length, t.length))
      while (p < maxP && s(p) == t(p)) p += 1
      j + p * 0.1 * (1.0 - j)
    } else j
  }

  private def jaro(s: Array[Char], t: Array[Char]): Double = {
    val ls = s.length
    val lt = t.length
    if (ls == 0 || lt == 0) return 0.0
    val window = math.max(math.max(ls, lt) / 2 - 1, 0)
    val sm = new Array[Boolean](ls)
    val tm = new Array[Boolean](lt)
    var m = 0
    var i = 0
    while (i < ls) {
      var j = math.max(0, i - window)
      val hi = math.min(lt - 1, i + window)
      var found = false
      while (!found && j <= hi) {
        if (!tm(j) && s(i) == t(j)) {
          sm(i) = true; tm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0
    var trans = 0
    i = 0
    while (i < ls) {
      if (sm(i)) {
        while (!tm(k)) k += 1
        if (s(i) != t(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val halfTrans = trans / 2
    (m.toDouble / ls + m.toDouble / lt + (m - halfTrans).toDouble / m) / 3.0
  }

  /** Column API by SQL expression text. */
  def jaro_winkler(a: String, b: String): Column = expr(s"jaro_winkler($a, $b)")
}
