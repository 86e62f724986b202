package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, LongType}

/** 32-bit SimHash of an array<string>: hash every element to the
  * PORTABLE 32-bit seed-`seed` hash — md5 of "<seed>:" ++ element,
  * first 32 bits, bit-identical to `DedupOps.portableHash(x, seed)`
  * and DuckDB `('0x'||substring(md5('<seed>:'||x),1,8))::BIGINT` —
  * then take, per bit position, the majority vote across elements —
  * ties (2·ones == n) vote 0, matching `2·ones > n` in the SQL fold
  * and the oracle.
  *
  * Fuses what the HOF form spells as a per-token md5 `transform` plus
  * a 32-round `aggregate`/`filter` fold — ~4k interpreted lambda
  * evaluations per document (measured most of `dedup_simhash`'s 5.3 s
  * at sf0.1); here one compiled pass with 32 int counters.
  *
  * The seed exists so WIDER signatures can be composed from
  * independent 32-bit halves (seed 0 = the historical `simhash32`;
  * seed 1 = the high half of the 64-bit form): at 10× corpus the
  * 32-bit/8-bit-band form's 1024 bucket keys saturate and candidate
  * pairs grow quadratically (measured 24× time at 10× docs — see
  * SCALE.md round-12), while 4×16-bit bands over 64 bits keep buckets
  * near-singleton. Band bits must scale like log2(N); the seeds make
  * the signature width a parameter instead of a ceiling.
  */
case class SimHash32(child: Expression, seed: Int) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SimHash32.eval(v.asInstanceOf[ArrayData], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHash32$$.MODULE$$.eval($c, $seed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash32 {

  // per-row allocations hoisted out of the hot kernel (whose whole
  // point is replacing interpreted per-token overhead with one
  // compiled pass): the MD5 instance is per-thread (MessageDigest is
  // stateful, reset()+update is the reuse idiom), and the seed prefix
  // bytes are precomputed for the small seeds the composed signatures
  // use (0..7), falling back to a one-off format for exotic seeds
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(8)(s => s"$s:".getBytes("UTF-8"))

  /** Shared kernel (also called from generated code). */
  def eval(arr: ArrayData, seed: Int): Long = {
    val n = arr.numElements()
    val cnt = new Array[Int](32)
    val md = mdLocal.get()
    val seedBytes =
      if (seed >= 0 && seed < seedPrefixes.length) seedPrefixes(seed)
      else s"$seed:".getBytes("UTF-8")
    var i = 0
    var nn = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(seedBytes)
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        var b = 0
        while (b < 32) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
        nn += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) { if (2 * cnt(b) > nn) sig |= 1L << b; b += 1 }
    sig
  }

  def simhash32(arrCol: String): Column = expr(s"simhash32($arrCol)")

  def simhash32s(arrCol: String, seed: Int): Column =
    expr(s"simhash32s($arrCol, $seed)")
}
