package graft

import graft.operators.{CorpusOps, Ingest, Skew}
import org.apache.spark.sql.functions._

/** Behavior gates for the corpus-curation operators (CorpusOps) beyond
  * the DuckDB differential check: known-answer repetition fractions,
  * real PII removal, and salted-vs-plain latest-wins equivalence.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("text_repetition computes exact duplicate-bigram fractions") {
    val out = CorpusOps.all.find(_.name == "text_repetition").get.run(spark, sf)
    val row = out.where(col("doc_id") === 0).collect()
    assert(row.length == 1)
    val r = row.head
    // invariants: dup_frac = 1 - distinct/total, top_frac <= 1, both in [0,1]
    val total = r.getAs[Long]("n_bigrams")
    val distinct = r.getAs[Long]("n_distinct")
    assert(math.abs(r.getAs[Double]("dup_frac") -
      BigDecimal(1.0 - distinct.toDouble / total).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(r.getAs[Double]("top_frac") > 0 && r.getAs[Double]("top_frac") <= 1.0)
    // crafted doc: "a b a b a b" → bigrams [a b, b a, a b, b a, a b]: 5 total, 2 distinct
    val crafted = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(graft.operators.TextOps.ngrams(
        graft.operators.TextOps.tokens(col("text")), 2)).as("bg"))
      .groupBy("doc_id", "bg").count()
    assert(crafted.agg(sum("count")).as[Long].head == 5L)
    assert(crafted.count() == 2L)
  }

  test("pii redaction removes every email/phone it counted") {
    val out = CorpusOps.all.find(_.name == "text_pii_redact").get.run(spark, sf)
    // every doc gained exactly one synthetic email and one phone
    assert(out.where(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0)
    // and redaction is idempotent: the redacted text has no remaining match
    val redacted = Tables.t(spark, sf, "documents")
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(
            concat(col("text"), lit(" contact: user"), col("doc_id"), lit("@"),
              col("source"), lit(".org phone 555-01"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")),
            "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
          "555-[0-9]{4}", "<PHONE>").as("red"))
    val leftovers = redacted.where(
      col("red").rlike("[a-z0-9._]+@") || col("red").rlike("555-[0-9]{4}")).count()
    assert(leftovers == 0L)
    assert(redacted.where(col("red").contains("<EMAIL>")).count() == redacted.count())
  }

  test("salted latest-wins is row-identical to plain latest-wins") {
    val ev = Tables.t(spark, sf, "events")
      .select("user_id", "event_id", "event_type", "value", "props")
    val plain = Ingest.latestWins(ev, keys = Seq("user_id"), version = Seq("event_id"))
    val salted = Skew.saltedLatestWins(ev, Seq("user_id"), Seq("event_id"), saltBuckets = 8)
    assert(plain.except(salted).isEmpty && salted.except(plain).isEmpty)
    assert(salted.count() == ev.select("user_id").distinct().count())
  }

  test("count-min sketch estimates are one-sided and near-exact at this width") {
    val est = CorpusOps.cmsBigramEstimates(Tables.t(spark, sf, "documents"))
      .orderBy(desc("est_cnt"), asc("term")).limit(25)
      .select(col("term"), col("est_cnt")).as[(String, Long)].collect().toMap
    val exact = Tables.t(spark, sf, "documents")
      .select(explode(graft.operators.TextOps.ngrams(
        graft.operators.TextOps.tokens(col("text")), 2)).as("term"))
      .groupBy("term").count()
      .as[(String, Long)].collect().toMap
    assert(est.nonEmpty)
    // CMS guarantee: estimate never undercounts
    assert(est.forall { case (t, e) => e >= exact(t) })
    // error bound: with d=4 rows the min-estimate's overcount should sit
    // well under the single-row expected collision mass N/w (load factor
    // ~4 keys/bucket here, so overcounts are routine but bounded)
    val n = exact.values.sum.toDouble
    val meanOver = est.map { case (t, e) => (e - exact(t)).toDouble }.sum / est.size
    assert(meanOver <= 2.0 * n / 256.0,
      s"mean overcount $meanOver exceeds 2N/w = ${2.0 * n / 256.0}")
  }

  test("approx_top_k sketch is exact when tracked items cover the vocabulary") {
    // the registered terms_approx_topk query relies on this: with
    // maxItemsTracked sized over the bigram vocab the frequent-items
    // sketch never purges, so est == exact on every top-k row (the
    // weaker est >= exact flag is what survives purging at real scale)
    val terms = Tables.t(spark, sf, "documents")
      .select(explode(graft.operators.TextOps.ngrams(
        graft.operators.TextOps.tokens(col("text")), 2)).as("term"))
    val est = terms.agg(expr("approx_top_k(term, 25, 4096)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").cast("long").as("est"))
      .as[(String, Long)].collect().toMap
    val exact = terms.groupBy("term").count().as[(String, Long)].collect().toMap
    assert(est.nonEmpty && est.size <= 25)
    est.foreach { case (t, e) =>
      assert(e == exact(t), s"$t: sketch $e != exact ${exact(t)} with no purge")
    }
  }

  test("Tables cache returns the same relation until invalidated") {
    val a = Tables.t(spark, sf, "documents")
    assert(Tables.t(spark, sf, "documents") eq a,
      "repeat loads must hit the per-session relation cache")
    Tables.invalidate()
    val b = Tables.t(spark, sf, "documents")
    assert(!(b eq a), "invalidate() must drop cached relations")
    assert(b.count() == a.count())
  }

  test("heavy hitters and tfidf agree on corpus-dominant terms") {
    val hh = CorpusOps.all.find(_.name == "terms_heavy_hitters").get.run(spark, sf)
    val rows = hh.collect()
    assert(rows.length == 25)
    // counts descend; share sums to < 1 over top-25 of a larger vocab
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    val shares = rows.map(_.getAs[Double]("share"))
    assert(shares.sum <= 1.0 + 1e-6)
  }
}
