package graft

import graft.operators.{DedupOps, TextOps}
import org.apache.spark.sql.functions._

/** Seeded fuzz gates for the custom kernels: WordGramHashes against a
  * plain-Scala reference AND the DSL string pipeline on adversarial
  * inputs (multi-space runs, leading/trailing spaces, unicode tokens,
  * repeated grams, tiny docs).
  */
class GramFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val alphabet = Vector("a", "bb", "ccc", "the", "Ω", "naïve", "東京",
    "x1", "y2z", "!?", "a", "bb") // dupes raise repeat probability

  private def randomDoc(rnd: scala.util.Random): String = {
    val n = rnd.nextInt(30)
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      sb.append(" " * rnd.nextInt(3)) // 0..2 separators → empty tokens
      sb.append(alphabet(rnd.nextInt(alphabet.size)))
    }
    sb.append(" " * rnd.nextInt(2))
    sb.toString
  }

  /** Reference semantics: split on ' ', drop empties, distinct n-gram
    * count of space-joined windows.
    */
  private def refDistinctGrams(text: String, n: Int): Int =
    text.split(" ", -1).filter(_.nonEmpty).sliding(n)
      .filter(_.length == n).map(_.mkString(" ")).toSet.size

  test("WordGramHashes matches reference + DSL pipeline on 300 fuzzed docs") {
    val rnd = new scala.util.Random(42)
    val docs = (0 until 300).map(i => (i.toLong, randomDoc(rnd)))
    for (n <- Seq(2, 3, 5)) {
      val df = docs.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          size(graft.functions.WordGramHashes.word_gram_hashes("text", n)).as("k"),
          size(DedupOps.shingles(col("text"), n)).as("s"))
        .collect()
      df.foreach { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        val expected = refDistinctGrams(text, n)
        assert(r.getInt(2) == expected,
          s"kernel n=$n doc=$id text='$text': got ${r.getInt(2)}, want $expected")
        assert(r.getInt(3) == expected,
          s"DSL n=$n doc=$id diverges from reference")
      }
    }
  }

  test("PosWordGrams generator matches the explode(ngrams) pipeline on fuzzed docs") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 200).map(i => (i.toLong, randomDoc(rnd))) :+
      (999L, "") :+ (1000L, "solo") :+ (1001L, "   ")
    val df = docs.toDF("doc_id", "text")
    for (n <- Seq(1, 3)) {
      val viaGen = df.select(col("doc_id"),
          expr(s"pos_word_grams(text, $n)").as(Seq("pos", "gram")))
        .as[(Long, Int, String)].collect().toSet
      val viaDsl = df.select(col("doc_id"),
          posexplode(TextOps.ngrams(TextOps.tokens(col("text")),
            math.max(n, 2))))
        .as[(Long, Int, String)].collect().toSet
      if (n >= 2) assert(viaGen == viaDsl, s"generator diverges at n=$n")
      else {
        // ngrams() requires n>=2; check n=1 against plain posexplode
        val toks = df.select(col("doc_id"),
            posexplode(TextOps.tokens(col("text"))))
          .as[(Long, Int, String)].collect().toSet
        assert(viaGen == toks, "generator n=1 must equal token posexplode")
      }
    }
  }

  test("gram hashes are stable across evaluation paths (eval vs codegen)") {
    val d = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val viaPlan = d.select(graft.functions.WordGramHashes.word_gram_hashes("text", 3))
      .as[Seq[Long]].head
    val viaEval = graft.functions.WordGramHashes
      .distinctGramHashes(org.apache.spark.unsafe.types.UTF8String.fromString("a b c d e f g"), 3)
      .toLongArray.toSeq
    assert(viaPlan == viaEval)
    assert(viaPlan.length == 5 && viaPlan == viaPlan.sorted)
  }
}
