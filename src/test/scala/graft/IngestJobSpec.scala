package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** End-to-end job driver: CLI parse + full pipeline to a snapshot dir. */
class IngestJobSpec extends SparkSpec {
  import spark.implicits._

  /** A kafka-shaped parquet input (`partition, offset, value: binary`). */
  private def kafkaParquet(rows: Seq[(Int, Long, String)], files: Int = 1): String = {
    val in = Scratch.dir("job_in")
    rows.toDF("partition", "offset", "value")
      .withColumn("value", col("value").cast("binary"))
      .repartition(files)
      .write.mode("overwrite").parquet(in)
    in
  }

  test("arg parsing: defaults, flags, errors") {
    val a = IngestJob.parseArgs(Array(
      "--input", "/in", "--output", "/out", "--scoped", "--limit", "5"))
    assert(a == IngestJob.Args("/in", "kafka-parquet", "/out", scoped = true, limit = 5))
    intercept[IllegalArgumentException](IngestJob.parseArgs(Array("--bogus", "x")))
    intercept[IllegalArgumentException](IngestJob.parseArgs(Array("--input", "/in")))
  }

  test("kafka-parquet job: parse, dedup latest, overwrite JSON snapshot") {
    val in = kafkaParquet(Seq(
      (0, 1L, """{"id":7,"msg":"old"}"""),
      (0, 9L, """{"id":7,"msg":"new"}"""),
      (1, 2L, """{"id":8,"msg":"x"}"""),
      (1, 3L, "broken")))
    val out = Scratch.dir("job_out")

    val n = IngestJob.run(spark,
      IngestJob.Args(input = in, format = "kafka-parquet", output = out))
    assert(n == 2)
    assert(n == spark.read.text(out).count(), "the count returned is the rows written")
    val lines = spark.read.text(out).as[String].collect().sorted
    assert(lines.toSeq == Seq("""{"id":7,"msg":"new"}""", """{"id":8,"msg":"x"}"""))

    // rerun with different data → overwrite, not append (reference
    // delete-then-write, HadoopKafkaConsumer.java:139-147)
    val in2 = kafkaParquet(Seq((0, 1L, """{"id":1,"msg":"only"}""")))
    IngestJob.run(spark, IngestJob.Args(input = in2, output = out))
    assert(spark.read.text(out).as[String].collect().toSeq ==
      Seq("""{"id":1,"msg":"only"}"""))
  }

  test("jsonl format + limit cap") {
    val in = Scratch.dir("job_jl")
    val out = Scratch.dir("job_jlout")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in, "d.jsonl"),
      Seq.tabulate(10)(i => s"""{"id":$i,"msg":"m$i"}""").mkString("\n"))
    val n = IngestJob.run(spark,
      IngestJob.Args(input = in, format = "jsonl", output = out, limit = 4))
    assert(n == 4) // limit caps scanned records (reference kafka.limit)
    assert(n == spark.read.text(out).count(), "the count returned is the rows written")
    // a limit beyond Int.MaxValue must be rejected, not overflow toInt
    // into a silent negative cap
    intercept[IllegalArgumentException](IngestJob.run(spark,
      IngestJob.Args(input = in, format = "jsonl", output = out,
        limit = Int.MaxValue + 1L)))
  }

  test("report: planted corrupt records are counted, keys and offsets match the construction") {
    // 600 records over 60 ids, offsets 100..699; every 7th record is
    // planted corrupt (truncated or not JSON at all)
    val rows = (0 until 600).map { i =>
      val v =
        if (i % 7 == 3) s"""{"id":${i % 60},"ms"""
        else if (i % 7 == 5) s"garbage#$i"
        else s"""{"id":${i % 60},"msg":"m$i"}"""
      (i % 3, 100L + i, v)
    }
    val planted = (0 until 600).count(i => i % 7 == 3 || i % 7 == 5)
    val keys = (0 until 600).filterNot(i => i % 7 == 3 || i % 7 == 5).map(_ % 60).distinct.size
    val out = Scratch.dir("job_rep")
    val r = IngestJob.report(spark,
      IngestJob.Args(input = kafkaParquet(rows, files = 3), output = out))
    assert(r == IngestJob.Report(recordsIn = 600, recordsCorrupt = planted,
      keysOut = keys, offsetMin = Some(100L), offsetMax = Some(699L)))
    assert(spark.read.text(out).count() == keys)
    assert(r.line(out) ==
      s"[ingest] read 600 records ($planted corrupt), wrote $keys keys to $out; offsets 100..699")
  }

  test("empty input: 0 keys, an empty snapshot, and no wait on the counters") {
    val in = kafkaParquet(Seq.empty)
    val out = Scratch.dir("job_empty")
    val r = Await.result(Future(IngestJob.report(spark,
      IngestJob.Args(input = in, output = out))), 2.minutes)
    assert(r == IngestJob.Report(0, 0, 0, None, None))
    assert(spark.read.text(out).count() == 0)
  }

  /** Runs `body` with `listener` attached and returns once the listener
    * has seen every event of it: a marker job is run after `body`, and
    * events reach a listener in order, so once the marker job's end is
    * seen every earlier job and task has been counted. The marker job's
    * events reach `listener` too; [[isMarker]] tells its start apart.
    */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    @volatile var markerJob = -1
    @volatile var markerDone = false
    val watch = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e)) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(watch)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60.seconds.toNanos
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerDone, "listener never saw the marker job")
    } finally {
      sc.removeSparkListener(watch)
      sc.removeSparkListener(listener)
    }
  }

  private val marker = "ingest-job-spec-marker"

  private def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)

  test("single pass: one run reads each input record exactly once") {
    val n = 2000
    val in = kafkaParquet(
      (0 until n).map(i => (i % 4, i.toLong, s"""{"id":${i % 50},"msg":"m$i"}""")), files = 4)
    val out = Scratch.dir("job_pass")
    val read = new AtomicLong()
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    })(IngestJob.run(spark, IngestJob.Args(input = in, output = out)))
    assert(read.get == n, s"records read over one run: ${read.get}, input: $n")
  }

  test("a kafka-parquet run starts 2 Spark jobs: the write's two stages, no schema-inference job") {
    val in = kafkaParquet(
      (0 until 400).map(i => (i % 4, i.toLong, s"""{"id":${i % 30},"msg":"m$i"}""")), files = 4)
    val out = Scratch.dir("job_jobs")
    val jobs = new AtomicLong()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) jobs.incrementAndGet()
    })(IngestJob.run(spark, IngestJob.Args(input = in, output = out)))
    assert(jobs.get == 2, s"Spark jobs started by one run: ${jobs.get}")
  }

  test("a kafka-parquet input without `value` fails before publishing; the previous snapshot stays") {
    val out = java.nio.file.Paths.get(Scratch.dir("job_novalue")).resolve("snapshot")
    IngestJob.run(spark, IngestJob.Args(
      input = kafkaParquet(Seq((0, 1L, """{"id":1,"msg":"kept"}"""))), output = out.toString))
    def contents(): Map[String, Seq[Byte]] = {
      val files = java.nio.file.Files.list(out)
      try files.iterator().asScala.map(f =>
        f.getFileName.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally files.close()
    }
    val before = contents()
    val in = Scratch.dir("job_novalue_in")
    Seq((0, 1L), (0, 2L)).toDF("partition", "offset").write.mode("overwrite").parquet(in)
    intercept[org.apache.spark.sql.AnalysisException](
      IngestJob.run(spark, IngestJob.Args(input = in, output = out.toString)))
    assert(contents() == before, "the previous snapshot must survive an input without `value`")
    val siblings = {
      val l = java.nio.file.Files.list(out.getParent)
      try l.iterator().asScala.map(_.getFileName.toString).toList finally l.close()
    }
    assert(siblings == List("snapshot"), s"no temp or old directory may be left: $siblings")
  }
}
