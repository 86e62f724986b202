package graft

import graft.functions.NormalizeText
import org.apache.spark.sql.functions._

/** Unicode canonicalization expression: NFC collapse, accent folding,
  * ASCII fast path, null handling, codegen/interpreted agreement.
  */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def norm(s: String, fold: Boolean): String =
    Seq(s).toDF("w")
      .select(expr(s"normalize_text(w, $fold)").as("n"))
      .as[String].collect()(0)

  test("NFC collapses combining-mark and precomposed encodings to one form") {
    val pre = "caf\u00e9"
    val comb = "cafe\u0301"
    assert(pre != comb, "fixture must start from distinct byte forms")
    assert(norm(pre, fold = false) == norm(comb, fold = false))
    assert(norm(comb, fold = false) == pre, "NFC canonical form is precomposed")
  }

  test("fold strips diacritics onto plain ASCII; idempotent") {
    assert(norm("caf\u00e9", fold = true) == "cafe")
    assert(norm("cafe\u0301", fold = true) == "cafe")
    assert(norm("na\u00efve", fold = true) == "naive")
    assert(norm("\u00fcber", fold = true) == "uber")
    // idempotence: normalizing a normalized string is the identity
    assert(norm(norm("cafe\u0301", fold = true), fold = true) == "cafe")
    assert(norm(norm("cafe\u0301", fold = false), fold = false) == "caf\u00e9")
  }

  test("ASCII fast path returns the input unchanged; null stays null") {
    val out = Seq(("plain ascii text", 1), (null, 2)).toDF("w", "i")
      .select(expr("normalize_text(w, true)").as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out(0).contains("plain ascii text"))
    assert(out(1).isEmpty)
  }

  test("interpreted eval agrees with codegen on mixed content") {
    val samples = Seq("caf\u00e9 und cafe\u0301", "ascii only", "na\u00efve \u00fcber",
      "mixed caf\u00e9 ascii", "")
    samples.foreach { s0 =>
      Seq(false, true).foreach { fold =>
        val viaExpr = norm(s0, fold) // whole-stage codegen path
        val direct = NormalizeText.normalize( // interpreted helper
          org.apache.spark.unsafe.types.UTF8String.fromString(s0), fold).toString
        assert(viaExpr == direct, s"codegen/interpreted divergence on '$s0' fold=$fold")
      }
    }
  }
}
