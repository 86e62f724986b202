package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonicalization for corpus text: NFC composition, optionally
  * followed by accent folding (NFD → drop combining marks → NFC).
  *
  * Why this exists: a web crawl carries the SAME logical text in multiple
  * byte encodings — "café" appears both precomposed (U+00E9) and as
  * "cafe" + U+0301 — so every byte-level fingerprint upstream of dedup
  * (md5/xxhash/minhash/simhash, all of this engine's dedup keys) sees two
  * distinct documents unless text is canonicalized FIRST. NFC is the
  * idempotent canonical form; the fold variant additionally collapses
  * diacritic variants ("naïve"/"naive") for fuzzy blocking keys.
  * Reference provenance: the reference stores raw message bytes with no
  * canonicalization (`HadoopKafkaConsumer.java:87-90` writes the JSON
  * string as-is), so cross-encoding duplicates survive its snapshot.
  *
  * Scale stance: per-row, zero shuffle, codegen'd (static call inside
  * WholeStageCodegen). The all-ASCII fast path matters: at 100 TB most
  * text is ASCII, NFC is a no-op on it, and UTF8String lets us prove
  * ASCII-ness with one byte/char count comparison — no Normalizer call,
  * no String materialization.
  *
  * Null → null. `fold` is a plan-time constant, baked into codegen.
  */
case class NormalizeText(child: Expression, fold: Boolean) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    NormalizeText.normalize(v.asInstanceOf[UTF8String], fold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NormalizeText$$.MODULE$$.normalize($c, $fold);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NormalizeText {

  import java.text.Normalizer

  /** NFC-normalize; with fold also strip combining marks (NFD → drop
    * Mn-category chars → NFC). ASCII input short-circuits: one byte ==
    * one char implies no multi-byte sequences, hence nothing to compose
    * or fold.
    */
  def normalize(s: UTF8String, fold: Boolean): UTF8String = {
    if (s.numBytes == s.numChars) return s // pure ASCII: already canonical
    val str = s.toString
    val out =
      if (!fold) Normalizer.normalize(str, Normalizer.Form.NFC)
      else {
        val nfd = Normalizer.normalize(str, Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(nfd.length)
        var i = 0
        while (i < nfd.length) {
          val c = nfd.charAt(i)
          if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
          i += 1
        }
        Normalizer.normalize(sb.toString, Normalizer.Form.NFC)
      }
    UTF8String.fromString(out)
  }

  /** Column API by SQL expression text. */
  def normalize_text(textCol: String, fold: Boolean): Column =
    expr(s"normalize_text($textCol, $fold)")
}
