package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 64-bit hashes of the word n-grams of a document, in ONE pass
  * over the UTF-8 bytes — the scan-side kernel of the Jaccard dedup
  * family (reference capability: near-dup detection over ingested text;
  * cf. /root/reference README's Kafka→HDFS corpus use case).
  *
  * Semantics contract (what the DuckDB oracle checks indirectly through
  * the intersection/size arithmetic of `dedup_ngram_jaccard`):
  *   tokens  = text split on single ' ' with empties dropped;
  *   grams   = n consecutive tokens joined by one space;
  *   result  = one 64-bit hash per DISTINCT gram (order = ascending hash).
  * Token sequences contain no spaces, so space-joined gram strings are in
  * bijection with token sequences — hashing the token-hash sequence is
  * distinctness-equivalent to hashing the gram string (modulo 2^-64
  * collisions, immaterial to a count and bounded by the pair test gate).
  *
  * Replaces a ~15-node split/slice/zip_with/array_distinct/xxhash64
  * expression tree that Catalyst re-expands at every consumer (filter +
  * project + both self-join sides): O(len·n) string building + O(g²)-ish
  * array_distinct become O(len) hashing + O(g log g) sort-dedup, and the
  * plan shrinks from ~3 KB of expression text per scan to one call.
  *
  * Codegen'd (static call, stays inside WholeStageCodegen); null → null.
  */
case class WordGramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    WordGramHashes.distinctGramHashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordGramHashes$$.MODULE$$.distinctGramHashes($c, $n);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordGramHashes {

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L
  private final val GramPoly = 1000003L

  /** Murmur3 64-bit finalizer — guards the polynomial combine against
    * structured token-hash cancellation.
    */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** One pass: tokenize on 0x20, FNV-1a each token, polynomial-combine
    * each window of n token hashes, finalize, sort + unique.
    */
  def distinctGramHashes(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // ring buffer of the last n token hashes
    val ring = new Array[Long](n)
    var nTokens = 0
    var grams: Array[Long] = new Array[Long](16)
    var nGrams = 0
    var i = 0
    while (i < len) {
      if (bytes(i) != ' ') {
        var h = FnvOffset
        while (i < len && bytes(i) != ' ') {
          h = (h ^ (bytes(i) & 0xFF)) * FnvPrime
          i += 1
        }
        ring(nTokens % n) = h
        nTokens += 1
        if (nTokens >= n) {
          var g = 0L
          var j = nTokens - n
          while (j < nTokens) { g = g * GramPoly + ring(j % n); j += 1 }
          if (nGrams == grams.length) grams = java.util.Arrays.copyOf(grams, nGrams * 2)
          grams(nGrams) = fmix64(g)
          nGrams += 1
        }
      } else i += 1
    }
    if (nGrams == 0) return new GenericArrayData(Array.emptyLongArray)
    java.util.Arrays.sort(grams, 0, nGrams)
    var distinct = 1
    var k = 1
    while (k < nGrams) {
      if (grams(k) != grams(k - 1)) { grams(distinct) = grams(k); distinct += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(grams, distinct))
  }

  def word_gram_hashes(textCol: String, n: Int): Column =
    expr(s"word_gram_hashes($textCol, $n)")
}
