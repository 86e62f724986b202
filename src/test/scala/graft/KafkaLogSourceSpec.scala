package graft

import graft.sources.kafkalog.{KafkaLog, KafkaLogOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** The kafkalog DataSource V2 source: batch + micro-batch reads, offset
  * serde, maxOffsetsPerTrigger admission, recovery from a checkpoint
  * after a mid-stream failure, live append pickup, and corrupt-log
  * detection. This drives Spark's REAL source machinery (offset WAL,
  * admission, replay) with engine code — the offline equivalent of the
  * reference's record-reader path (`KafkaInputFormat.java:111-201`).
  */
class KafkaLogSourceSpec extends SparkSpec {
  import spark.implicits._

  /** 3 partitions × 20 records, offsets with gaps (compacted-topic
    * shape), JSON values.
    */
  private def fixture(dir: String): Unit = {
    val rows = for (p <- 0 until 3; i <- 0 until 20)
      yield (p, i * 3L + p, s"""{"id":${i % 7},"msg":"p${p}m$i"}""")
    KafkaLog.write(rows.toDF("partition", "offset", "value"), dir)
  }

  test("batch read round-trips the written log") {
    val dir = Scratch.dir("batch"); fixture(dir)
    val got = spark.read.format("kafkalog").load(dir)
      .orderBy("partition", "offset").as[(Int, Long, String)].collect()
    assert(got.length == 60)
    assert(got.take(2).toSeq == Seq(
      (0, 0L, """{"id":0,"msg":"p0m0"}"""), (0, 3L, """{"id":1,"msg":"p0m1"}""")))
    // per-partition offsets strictly increasing in read order
    got.groupBy(_._1).values.foreach { part =>
      assert(part.map(_._2).toSeq == part.map(_._2).sorted.toSeq)
    }
  }

  test("batch startingOffsets/endingOffsets bound the read per partition") {
    val dir = Scratch.dir("range"); fixture(dir)
    // fixture offsets per partition p: p, p+3, p+6, ... p+57 (stride 3)
    val got = spark.read.format("kafkalog")
      .option("startingOffsets", """{"0":10,"1":-2,"2":30}""")
      .option("endingOffsets", """{"0":40,"1":10,"2":-1}""")
      .load(dir)
      .as[(Int, Long, String)].collect()
    // p=0: offsets in [10,40) of {0,3,..57} → 12,15,..39 = 10 records
    assert(got.count(_._1 == 0) == 10)
    assert(got.filter(_._1 == 0).forall(r => r._2 >= 10 && r._2 < 40))
    // p=1: -2 = earliest (1) to 10 → 1,4,7 = 3 records
    assert(got.filter(_._1 == 1).map(_._2).sorted.toSeq == Seq(1L, 4L, 7L))
    // p=2: 30 to -1 = latest → 32,35,..59 = 10 records
    assert(got.count(_._1 == 2) == 10)
    assert(got.filter(_._1 == 2).forall(_._2 >= 30))
  }

  test("batch limit caps records per partition like the reference's kafka.limit") {
    val dir = Scratch.dir("limit"); fixture(dir)
    val got = spark.read.format("kafkalog")
      .option("limit", 7)
      .load(dir)
      .as[(Int, Long, String)].collect()
    // per-SPLIT cap (KafkaInputFormat.java:131,188): first 7 of each partition
    assert(got.length == 21)
    (0 until 3).foreach { p =>
      assert(got.filter(_._1 == p).map(_._2).sorted.toSeq ==
        (0 until 7).map(i => i * 3L + p))
    }
    // composes with a range: start past the head, still 7-per-partition
    val ranged = spark.read.format("kafkalog")
      .option("startingOffsets", """{"0":30,"1":30,"2":30}""")
      .option("limit", 3)
      .load(dir)
      .as[(Int, Long, String)].collect()
    assert(ranged.length == 9)
    assert(ranged.forall(_._2 >= 30))
  }

  test("batch offset options reject nonsense loudly") {
    val dir = Scratch.dir("badrange"); fixture(dir)
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    val inverted = intercept[Exception] {
      spark.read.format("kafkalog")
        .option("startingOffsets", """{"0":40}""")
        .option("endingOffsets", """{"0":10}""")
        .load(dir).collect()
    }
    assert(chain(inverted).exists(t =>
      Option(t.getMessage).exists(_.contains("endingOffsets"))), s"got $inverted")
    val badWord = intercept[Exception] {
      spark.read.format("kafkalog")
        .option("startingOffsets", "latest") // meaningless for a bounded read
        .load(dir).collect()
    }
    assert(chain(badWord).exists(t =>
      Option(t.getMessage).exists(_.contains("startingOffsets"))), s"got $badWord")
  }

  test("maxOffsetsPerTrigger bounds every micro-batch and loses nothing") {
    val dir = Scratch.dir("admission"); fixture(dir)
    spark.catalog.dropTempView("kl_adm")
    val q = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 13)
      .load(dir)
      .writeStream.format("memory").queryName("kl_adm").start()
    try q.processAllAvailable() finally q.stop()
    val sunk = spark.table("kl_adm").as[(Int, Long, String)].collect()
    assert(sunk.length == 60, "every record exactly once across micro-batches")
    assert(sunk.toSet ==
      spark.read.format("kafkalog").load(dir).as[(Int, Long, String)].collect().toSet)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4,
      s"60 records / cap 13 must take >=4 batches, took ${batches.length}")
    // the cap is in OFFSET units; rows per batch can only be <= it
    assert(batches.forall(_.numInputRows <= 13),
      batches.map(_.numInputRows).mkString(","))
  }

  test("recovers from checkpoint after a mid-stream failure, exactly once") {
    val dir = Scratch.dir("recover"); fixture(dir)
    val ckpt = Scratch.dir("recover_ckpt")
    val out = Scratch.dir("recover_out")
    def run(bombAtBatch: Option[Long]): Unit = {
      val q = spark.readStream.format("kafkalog")
        .option("maxOffsetsPerTrigger", 13)
        .load(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (bombAtBatch.exists(id >= _))
            throw new RuntimeException("injected failure")
          batch.write.mode("append").parquet(out)
        }
        .start()
      try q.processAllAvailable()
      catch { case _: Throwable => () } // the injected failure surfaces here
      finally q.stop()
    }
    run(bombAtBatch = Some(2)) // commits batches 0-1, dies planning/running 2
    val afterCrash = spark.read.parquet(out).count()
    assert(afterCrash > 0 && afterCrash < 60,
      s"crash must land mid-log, got $afterCrash")
    run(bombAtBatch = None) // restart from the SAME checkpoint
    val rows = spark.read.parquet(out).as[(Int, Long, String)].collect()
    assert(rows.length == 60, s"exactly-once after recovery, got ${rows.length}")
    assert(rows.toSet ==
      spark.read.format("kafkalog").load(dir).as[(Int, Long, String)].collect().toSet)
  }

  test("picks up records appended between triggers") {
    val dir = Scratch.dir("append"); fixture(dir)
    spark.catalog.dropTempView("kl_app")
    val q = spark.readStream.format("kafkalog").load(dir)
      .writeStream.format("memory").queryName("kl_app").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kl_app").count() == 60)
      // append a new segment to p=0 — name sorts after the writer's
      // part-* files, offsets continue past the tail (like a new Kafka
      // log segment rolling)
      val seg = new String(java.util.Base64.getEncoder.encode("late".getBytes("UTF-8")))
      Files.writeString(Paths.get(s"$dir/p=0/seg-zz.txt"), s"100\t$seg\n101\t$seg\n")
      q.processAllAvailable()
      val got = spark.table("kl_app").as[(Int, Long, String)].collect()
      assert(got.length == 62)
      assert(got.count(r => r._1 == 0 && r._2 >= 100 && r._3 == "late") == 2)
    } finally q.stop()
  }

  test("out-of-order offsets in a segment fail the read loudly") {
    val dir = Scratch.dir("corrupt")
    val v = new String(java.util.Base64.getEncoder.encode("x".getBytes("UTF-8")))
    Files.createDirectories(Paths.get(s"$dir/p=0"))
    Files.writeString(Paths.get(s"$dir/p=0/seg.txt"), s"5\t$v\n3\t$v\n")
    val e = intercept[Exception] {
      spark.read.format("kafkalog").load(dir).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("out of order"))),
      s"expected corrupt-log error, got $e")
  }

  test("values past the base64 chunk width round-trip unbroken") {
    // Spark's base64 expression MIME-chunks output past 76 chars; the
    // writer strips the wraps — without that, a long value splits across
    // lines and corrupts the log (caught live by the windowed
    // differential's JSON payloads)
    val dir = Scratch.dir("long")
    val long = "{\"k\":\"" + ("x" * 500) + "\"}"
    KafkaLog.write(Seq((0, 1L, long)).toDF("partition", "offset", "value"), dir)
    val got = spark.read.format("kafkalog").load(dir)
      .as[(Int, Long, String)].collect()
    assert(got.toSeq == Seq((0, 1L, long)))
  }

  test("admission allocation: proportional, exact-sum, always progresses") {
    import graft.sources.kafkalog.KafkaLogMicroBatchStream.allocate
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val lagsGen = Gen.listOfN(6, Gen.chooseNum(0L, 5000000000L)) // past 2^32 → overflow zone
      .map(_.zipWithIndex.map { case (l, i) => i -> l })
    val capGen = Gen.chooseNum(0L, 10000000000L)
    val prop = Prop.forAll(lagsGen, capGen) { (lags, cap) =>
      val a = allocate(lags, cap)
      val total = lags.map(_._2).sum
      val bounded = lags.forall { case (p, lag) =>
        a.getOrElse(p, 0L) >= 0 && a.getOrElse(p, 0L) <= lag }
      val exact = a.values.sum == math.min(cap, total)
      val progress = cap < 1 || total == 0 || a.values.sum > 0
      bounded && exact && progress
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("offset JSON round-trips through serde") {
    val o = KafkaLogOffset(Map(0 -> 12L, 3 -> 45L, 11 -> 0L))
    assert(o.json() == """{"0":12,"3":45,"11":0}""")
    assert(KafkaLogOffset.fromJson(o.json()) == o)
    assert(KafkaLogOffset.fromJson("{}") == KafkaLogOffset(Map.empty))
  }

  test("snapshot fold: dir-as-state survives restart and folds only the delta") {
    import graft.operators.KafkaLogOps
    val dir = Scratch.dir("snap"); fixture(dir)
    val out = Scratch.dir("snap_out"); val ckpt = Scratch.dir("snap_ckpt")
    // (id, msg, version): id cycles 0..6 per fixture; version = offset
    // is unique per partition but ties across partitions, so order the
    // cross-partition tiebreak explicitly like the ops do
    def src = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 13)
      .load(dir)
      .select(
        get_json_object(col("value"), "$.id").cast("long").as("id"),
        get_json_object(col("value"), "$.msg").as("msg"),
        (col("offset") * 3 + col("partition")).as("version"))
    KafkaLogOps.foldSnapshot(src, out, ckpt)
    val first = KafkaLogOps.readSnapshot(spark, out)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(first.length == 7, s"one row per live key, got ${first.length}")
    // batch truth over the same log
    val truth = spark.read.format("kafkalog").load(dir)
      .select(
        get_json_object(col("value"), "$.id").cast("long").as("id"),
        get_json_object(col("value"), "$.msg").as("msg"),
        (col("offset") * 3 + col("partition")).as("version"))
      .groupBy("id").agg(max_by(struct(col("msg"), col("version")), col("version")).as("w"))
      .select(col("id"), col("w.msg"), col("w.version"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(first.toSeq == truth.toSeq)
    // append a strictly-newer record for id=3 to p=0, then RESTART the
    // job from the same checkpoint: only the delta is read (the
    // checkpointed offsets skip everything already folded) and the
    // snapshot updates exactly one key
    val v = new String(java.util.Base64.getEncoder.encode(
      """{"id":3,"msg":"fresh"}""".getBytes("UTF-8")))
    Files.writeString(Paths.get(s"$dir/p=0/seg-zz.txt"), s"900\t$v\n")
    // a TORN generation (crash mid-write: dir exists, no _SUCCESS) must
    // be invisible to readers and healed by the next fold
    Files.createDirectories(Paths.get(s"$out/gen-999"))
    Files.writeString(Paths.get(s"$out/gen-999/part-torn.txt"),
      """{"id":99,"msg":"torn","version":1}""" + "\n")
    assert(!KafkaLogOps.readSnapshot(spark, out)
      .as[(Long, String, Long)].collect().exists(_._1 == 99),
      "uncommitted generation must not be readable state")
    KafkaLogOps.foldSnapshot(src, out, ckpt)
    val second = KafkaLogOps.readSnapshot(spark, out)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(second.count(_._1 == 3) == 1 &&
      second.find(_._1 == 3).get._2 == "fresh")
    assert(second.filter(_._1 != 3) == first.toSeq.filter(_._1 != 3),
      "untouched keys must survive the restart fold unchanged")
    assert(!second.exists(_._1 == 99), "torn gen must not leak into the fold")
  }

  test("pure SQL can DDL and query a kafkalog table") {
    val dir = Scratch.dir("sql"); fixture(dir)
    spark.sql("DROP TABLE IF EXISTS klog_sql")
    spark.sql(s"CREATE TABLE klog_sql USING kafkalog OPTIONS (path '$dir')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM klog_sql WHERE partition = 1").head().getLong(0)
      assert(n == 20)
      // options travel through SQL too: bounded read via table options
      spark.sql("DROP TABLE IF EXISTS klog_sql_lim")
      spark.sql(
        s"CREATE TABLE klog_sql_lim USING kafkalog OPTIONS (path '$dir', `limit` '5')")
      assert(spark.sql("SELECT count(*) AS n FROM klog_sql_lim").head().getLong(0) == 15)
    } finally {
      spark.sql("DROP TABLE IF EXISTS klog_sql")
      spark.sql("DROP TABLE IF EXISTS klog_sql_lim")
    }
  }

  test("offset-range resolution: explicit beats sentinel, unlisted falls to extreme") {
    import graft.sources.kafkalog.OffsetRangeSpec
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check => scCheck, Parameters}
    val span = for {
      head <- Gen.chooseNum(0L, 1000000L)
      len <- Gen.chooseNum(0L, 1000000L)
    } yield (head, head + len)
    val spec = for {
      listed <- Gen.mapOf(Gen.zip(Gen.chooseNum(0, 8),
        Gen.oneOf(Gen.chooseNum(0L, 2000000L), Gen.const(-1L), Gen.const(-2L))))
      dflt <- Gen.oneOf(OffsetRangeSpec.Earliest, OffsetRangeSpec.Latest)
    } yield OffsetRangeSpec(listed, dflt)
    val prop = Prop.forAll(spec, Gen.chooseNum(0, 8), span) { case (s, p, (head, end)) =>
      val r = s.resolve(p, head, end)
      s.offsets.get(p) match {
        case Some(-2L) => r == head
        case Some(-1L) => r == end
        case Some(o) => r == o
        case None => r == (if (s.default == OffsetRangeSpec.Earliest) head else end)
      }
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("partitions option assigns a subset, batch and streaming") {
    val dir = Scratch.dir("assign"); fixture(dir)
    val batch = spark.read.format("kafkalog")
      .option("partitions", "0, 2")
      .load(dir).as[(Int, Long, String)].collect()
    assert(batch.length == 40 && batch.map(_._1).toSet == Set(0, 2))
    spark.catalog.dropTempView("kl_assign")
    val q = spark.readStream.format("kafkalog")
      .option("partitions", "1")
      .option("maxOffsetsPerTrigger", 7)
      .load(dir)
      .writeStream.format("memory").queryName("kl_assign").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("kl_assign").as[(Int, Long, String)].collect()
    assert(streamed.length == 20 && streamed.forall(_._1 == 1))
  }

  test("AvailableNow trigger drains the log under admission control") {
    // DENSE offsets (3 partitions × 20, no gaps), so the offset-unit cap
    // admits exactly 13 rows per batch: 60 rows must take 5 batches
    val dir = Scratch.dir("availnow")
    KafkaLog.write((for (p <- 0 until 3; i <- 0 until 20)
      yield (p, i.toLong, s"""{"id":$i,"msg":"p${p}m$i"}"""))
      .toDF("partition", "offset", "value"), dir)
    spark.catalog.dropTempView("kl_now")
    val q = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 13)
      .load(dir)
      .writeStream.format("memory").queryName("kl_now")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("kl_now").count() == 60)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(sizes.length == 5 && sizes.forall(_ <= 13) && sizes.sum == 60,
      s"AvailableNow must keep the per-batch cap: batches ${sizes.mkString(",")}")
  }
}
