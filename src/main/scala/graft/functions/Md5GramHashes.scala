package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** PORTABLE md5 k-gram hashes: element i is the first 32 bits of
  * md5 of the UTF-8 bytes of the k-CODEPOINT window starting at
  * codepoint i, as an unsigned long — bit-identical to the SQL
  * `conv(substring(md5(cast(substring(text,i,k) as binary)),1,8),16,10)`
  * and to DuckDB `('0x'||substring(md5(text[i:i+k-1]),1,8))::BIGINT`.
  * Both engines substring by codepoint; the kernel walks UTF-8
  * lead-byte boundaries so grams line up for non-ASCII text too (for
  * ASCII the boundaries are the bytes and the fast path is branch-free).
  *
  * One MessageDigest reused across grams, digesting the byte window
  * directly — no per-gram substring/UTF8String/hex-string allocations
  * and no interpreted lambda per element (the HOF form measured 5.6 s
  * at sf0.1; this ~1 s). md5 per gram is the portability contract:
  * DuckDB replays it, which a rolling recurrence can't — that is
  * [[RollingHashGrams]]'s job on the non-oracle path.
  */
case class Md5GramHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(Md5GramHashes.hashGrams(bytes, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.Md5GramHashes.hashGrams($c.getBytes(), $k));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5GramHashes {

  /** Shared kernel (also called from generated code). Windows are k
    * CODEPOINTS wide: gram i digests the bytes between codepoint
    * boundaries i and i+k, matching how SQL `substring` / DuckDB
    * slicing address multi-byte text. All-ASCII input (the common
    * case) never allocates the boundary table.
    */
  def hashGrams(bytes: Array[Byte], k: Int): Array[Long] = {
    val len = bytes.length
    var ascii = true
    var j = 0
    while (ascii && j < len) { if (bytes(j) < 0) ascii = false; j += 1 }
    if (ascii) return hashByteWindows(bytes, starts = null, nGrams = len - k + 1, k)
    // codepoint boundaries = UTF-8 non-continuation bytes ((b & 0xC0) != 0x80)
    val starts = new Array[Int](len + 1)
    var cp = 0
    j = 0
    while (j < len) {
      if ((bytes(j) & 0xC0) != 0x80) { starts(cp) = j; cp += 1 }
      j += 1
    }
    starts(cp) = len
    hashByteWindows(bytes, starts, nGrams = cp - k + 1, k)
  }

  /** `starts == null` means 1 byte per codepoint (ASCII fast path). */
  private def hashByteWindows(
      bytes: Array[Byte], starts: Array[Int], nGrams: Int, k: Int): Array[Long] = {
    if (nGrams <= 0) return Array.emptyLongArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val from = if (starts == null) i else starts(i)
      val until = if (starts == null) i + k else starts(i + k)
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      out(i) = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      i += 1
    }
    out
  }

  def md5_gram_hashes(textCol: String, k: Int): Column =
    expr(s"md5_gram_hashes($textCol, $k)")
}
