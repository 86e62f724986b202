package graft

import graft.functions.{CosineSimilarity, RollingHashGrams}
import graft.operators.SimilarityOps
import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._

/** As-of join semantics + custom cosine Expression equivalence. */
class AsOfCosineSpec extends SparkSpec {
  import spark.implicits._

  test("asof: picks latest right row at-or-before left time, null when none") {
    val trades = Seq(
      (1L, "A", 100L), (2L, "A", 105L), (3L, "B", 50L), (4L, "C", 10L)
    ).toDF("trade_id", "sym", "t")
    val quotes = Seq(
      ("A", 90L, 10.0), ("A", 100L, 11.0), ("A", 104L, 12.0),
      ("B", 60L, 5.0)
    ).toDF("qsym", "qt", "px")
    val out = AsOfJoin.asof(trades, quotes, "sym", "qsym", "t", "qt", Seq("px"))
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    assert(out(1L).contains(11.0)) // equal time counts (>=)
    assert(out(2L).contains(12.0)) // latest before 105
    assert(out(3L).isEmpty)        // B's only quote is after t=50
    assert(out(4L).isEmpty)        // C has no quotes at all
  }

  test("asof: rightTiebreak resolves same-(key,time) right rows to the max, and equals pre-dedup") {
    val trades = Seq((1L, "A", 100L), (2L, "A", 101L)).toDF("trade_id", "sym", "t")
    // two quotes at the same (key, time): tiebreak must pick ver=2
    val quotes = Seq(
      ("A", 100L, 1L, 10.0), ("A", 100L, 2L, 20.0), ("A", 99L, 9L, 5.0)
    ).toDF("qsym", "qt", "ver", "px")
    val out = AsOfJoin.asof(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("ver", "px"), rightTiebreak = Seq("ver"))
      .select("trade_id", "ver", "px").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((2L, 20.0)), "max-ver quote must win the tie")
    assert(out(2L) == ((2L, 20.0)), "carry-forward must carry the tie winner")
    // equivalence with the explicit latest-wins pre-dedup form
    val pre = graft.operators.Ingest.latestWins(quotes,
      keys = Seq("qsym", "qt"), version = Seq("ver"))
    val viaDedup = AsOfJoin.asof(trades, pre, "sym", "qsym", "t", "qt", Seq("ver", "px"))
      .select("trade_id", "ver", "px").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == viaDedup)
  }

  test("cosine_sim expression is bit-identical to the HOF composition") {
    val e = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("em"))
      .limit(50)
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        CosineSimilarity.cosine_sim("a.em", "b.em").as("fused"),
        (SimilarityOps.dot(col("a.em"), col("b.em")) /
          (SimilarityOps.norm(col("a.em")) * SimilarityOps.norm(col("b.em")))).as("hof"))
    val diffs = pairs.where(col("fused") =!= col("hof")).count()
    assert(diffs == 0, s"$diffs pairs differ between fused expression and HOF form")
  }

  test("rolling_hash_grams: O(n) incremental == brute-force per-gram polynomial") {
    val B = 1000003L
    def brute(sr: String, k: Int): Seq[Long] = {
      val b = sr.getBytes("UTF-8")
      (0 to b.length - k).map { i =>
        (0 until k).foldLeft(0L)((h, j) => h * B + (b(i + j) & 0xFF))
      }
    }
    val rnd = new scala.util.Random(3)
    val cases = Seq("", "a", "abcdefgh", "the quick brown fox") ++
      Seq.fill(5)(rnd.alphanumeric.take(30 + rnd.nextInt(50)).mkString)
    for (str <- cases; k <- Seq(1, 4, 8)) {
      val got = Seq(str).toDF("t")
        .select(RollingHashGrams.rolling_hash_grams("t", k).as("g"))
        .as[Seq[Long]].head()
      assert(got == brute(str, k), s"mismatch for str=$str k=$k")
    }
  }

  test("window_min: monotonic deque == per-position array_min(slice) HOF") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Seq.empty[Long], Seq(5L), Seq(3L, 1L, 2L), Seq(1L, 1L, 1L, 1L),
      Seq(9L, 8L, 7L, 6L, 5L), Seq(Long.MinValue, 0L, Long.MaxValue)) ++
      Seq.fill(5)(Seq.fill(20 + rnd.nextInt(40))(rnd.nextLong()))
    for (a <- cases; w <- Seq(1, 3, 4, 7)) {
      val got = Seq(a).toDF("a")
        .select(graft.functions.WindowMin.window_min("a", w).as("m"))
        .as[Seq[Long]].head()
      val want = if (a.length < w) Seq.empty[Long]
        else a.sliding(w).map(_.min).toSeq
      assert(got == want, s"mismatch for n=${a.length} w=$w")
    }
  }

  test("md5_gram_hashes: fused kernel == conv(substring(md5)) HOF form") {
    val rnd = new scala.util.Random(11)
    val cases = Seq("", "short", "exactly8", "the quick brown fox jumps",
      // non-ASCII: kernel must window by CODEPOINT boundaries like the
      // SQL substring (2-byte, 3-byte and 4-byte UTF-8 sequences)
      "héllo wörld", "日本語のテキスト", "mixed ascii καί ελληνικά",
      "emoji 🎉 in 🚀 the 🌊 middle") ++
      Seq.fill(5)(rnd.alphanumeric.take(20 + rnd.nextInt(60)).mkString)
    for (str <- cases; k <- Seq(1, 4, 8)) {
      val df = Seq(str).toDF("t")
      val got = df.select(graft.functions.Md5GramHashes.md5_gram_hashes("t", k).as("g"))
        .as[Seq[Long]].head()
      val want = df.select(expr(
        s"""transform(sequence(1, greatest(length(t) - ${k - 1}, 0)),
           |  i -> cast(conv(substring(md5(cast(substring(t, i, $k) as binary)), 1, 8),
           |                 16, 10) as bigint))""".stripMargin).as("g"))
        .as[Seq[Long]].head()
      val nCp = str.codePointCount(0, str.length)
      assert(got == want.filter(_ => nCp >= k), s"mismatch for str=$str k=$k")
    }
  }

  test("simhash32: fused kernel == md5-transform + majority-fold HOF form") {
    val docs = Seq(
      "", "one", "the quick brown fox jumps over the lazy dog",
      "a a a a b", "x y z x y z x y z w",
      (1 to 200).map(i => s"tok$i").mkString(" "))
      .toDF("text")
    val both = docs
      .select(graft.operators.TextOps.tokens(col("text")).as("tk"))
      .select(graft.functions.SimHash32.simhash32("tk").as("fused"),
        expr("transform(tk, x -> " +
          "cast(conv(substring(md5(cast(concat('0:', x) as binary)), 1, 8), 16, 10) as bigint))").as("hs"))
      .select(col("fused"), graft.operators.DedupOps.simhashFromHashes.as("hof"))
    assert(both.where(col("fused") =!= col("hof")).count() == 0)
  }

  test("cosine_sim handles zero vectors and SQL registration") {
    val r = spark.sql(
      "SELECT cosine_sim(array(0D, 0D), array(1D, 2D)) AS z, " +
        "cosine_sim(array(1D, 0D), array(1D, 0D)) AS one").head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-15)
  }
}
