package perfbench

import graft.{GQuery, IngestJob, QuietBox, SparkEntry}
import graft.operators.Ingest
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (`IngestJob.run`, `Ingest.*`, the `kafkalog` source,
  * `StreamingIngest.*`, the `GQuery` registry) and writes what it measured
  * to a JSON result file; the Python side (`run.py`) makes the inputs,
  * checks the outputs and reports the metrics.
  *
  * Usage: `perfbench.Main --mode <workload|trace> --rundir <dir>
  * --result <file> --seconds <s> --cores <n> [inputs...]`
  */
object Main {

  /** The outcome of one run, serialized to the result file. */
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one operation; a throw counts as a failed operation. */
  private def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        errors += s"$what: ${e.toString.take(300)}"
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a("mode")
    val runDir = a("rundir")
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt

    val busyBefore = QuietBox.busyWindow()
    val (spark, setups) = Setup.timed(cores, runDir)
    out("setup_s") = setups.map { case (b, q) => b + q }
    out("session_build_s") = setups.map(_._1)
    out("session_first_query_s") = setups.map(_._2)
    // the end-to-end modes run untraced: no spans, no span listener
    val tracer = new Tracer(spark.sparkContext, new File(runDir).getName)
    tracer.enabled = mode == "trace"
    try mode match {
      case "ingest_snapshot" =>
        out("ingest") = ingestSnapshot(spark, a("log"), s"$runDir/snapshots", seconds)
      case "ingest_stream" =>
        out("stream") = ingestStream(spark, tracer, a, s"$runDir/stream")
      case "query_suite" =>
        out("query") = querySuite(spark, tracer, a("tables"), s"$runDir/query", seconds)
      case "trace" =>
        // the query suite first, so that its cold pass is the first
        // execution of each query in a fresh JVM
        out("query") = querySuite(spark, tracer, a("tables"), s"$runDir/query", 0.0)
        out("ingest") = traceIngest(spark, tracer, a("log"), s"$runDir/snapshots")
        out("stream") = ingestStream(spark, tracer, a, s"$runDir/stream")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    } catch {
      case NonFatal(e) =>
        attempted += 1
        errors += s"$mode: ${e.toString.take(300)}"
        e.printStackTrace()
    } finally {
      out("spans") = tracer.dump()
      spark.stop()
    }
    val busyAfter = QuietBox.busyWindow()
    out("busy_before") = busyBefore
    out("busy_after") = busyAfter
    out("contended") = busyBefore > QuietBox.Threshold || busyAfter > QuietBox.Threshold
    out("peak_rss_mb") = vmHwmMb()
    out("attempted") = attempted
    out("errors") = errors.toList
    Files.write(Paths.get(a("result")), Json(out).getBytes("UTF-8"))
  }

  /** Peak resident set of this JVM (the driver is also the executor). */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** Warm query passes per run at least, so that each query's warm time is
    * a median of three. */
  private val MinWarmPasses = 3

  /** A full collection before each timed repetition, outside the timed
    * region, so that no repetition pays for garbage its predecessors left. */
  private def collectGarbage(): Unit = System.gc()

  private def rmrf(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  private def dirBytes(path: String): Long =
    Option(new File(path).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length()).sum

  // ------------------------------------------------------------ ingest

  private def ingestArgs(input: String, dir: String) =
    IngestJob.Args(input = input, format = "kafka-parquet", output = dir)

  /** The paper's job, closed loop: one cold run, two warm-up runs, then
    * timed runs until the time budget is spent (at least three). Only the
    * last snapshot is kept, for the correctness gate. */
  private def ingestSnapshot(spark: SparkSession, input: String,
      root: String, seconds: Double): Map[String, Any] = {
    var i = 0
    var last: Option[String] = None
    def once(): Option[(Double, String)] = {
      val dir = s"$root/snap-$i"
      i += 1
      collectGarbage()
      op(s"IngestJob.run #$i") {
        val t0 = now()
        IngestJob.run(spark, ingestArgs(input, dir))
        (secs(t0), dir)
      }
    }
    def keep(r: Option[(Double, String)]): Unit = r.foreach { x =>
      last.foreach(rmrf)
      last = Some(x._2)
    }
    val cold = once()
    keep(cold)
    // JIT keeps speeding the job up over the next runs; let it settle
    for (_ <- 1 to 2) keep(once())
    val timed = mutable.ArrayBuffer.empty[(Double, String)]
    var spent = 0.0
    while ((spent < seconds || timed.size < 3) && i < 100) {
      val r = once()
      r.foreach(timed += _)
      spent += r.map(_._1).getOrElse(seconds)
      keep(r)
    }
    Map(
      "cold_s" -> cold.map(_._1).getOrElse(Double.NaN),
      "walls_s" -> timed.map(_._1).toList,
      "snapshot" -> last.getOrElse(""))
  }

  /** The traced pass over the ingest layers: three warm-up runs, an
    * untraced and a traced `IngestJob.run`, then the cumulative operator
    * prefixes scan, +parse, +dedup, +sink, each forced through to its end. */
  private def traceIngest(spark: SparkSession, tracer: Tracer, input: String,
      root: String): Map[String, Any] = {
    for (i <- 1 to 3) {
      op(s"IngestJob.run warm-up $i")(IngestJob.run(spark, ingestArgs(input, s"$root/warm")))
      rmrf(s"$root/warm")
    }
    // the untraced leg runs with the tracer's listener detached
    tracer.enabled = false
    val untraced = op("IngestJob.run untraced") {
      val t0 = now()
      IngestJob.run(spark, ingestArgs(input, s"$root/untraced"))
      secs(t0)
    }
    rmrf(s"$root/untraced")
    tracer.enabled = true
    val snap = s"$root/traced"
    val traced = op("IngestJob.run traced") {
      val (n, s) = tracer.span("IngestJob.run")(IngestJob.run(spark, ingestArgs(input, snap)))
      (n, s, tracer.subtreeTotals(s))
    }

    val raw = spark.read.parquet(input)
    val parsed = Ingest.parseLenient(
      raw.select(col("partition"), col("offset"), col("value").cast("string").as("value")),
      jsonCol = "value", schema = Ingest.msgSchema,
      defaults = Map("id" -> lit(0L), "msg" -> lit("")))
    val deduped = Ingest.latestWins(parsed, keys = Seq("id"), version = Seq("offset"))
      .select(col("id"), col("msg"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val prefix = Seq[(String, () => Unit)](
      "scan" -> (() => noop(raw)),
      "parse" -> (() => noop(parsed)),
      "dedup" -> (() => noop(deduped)),
      "sink" -> (() => Ingest.writeSnapshotJson(deduped, s"$root/prefix-sink")))
    val prefixS = prefix.flatMap { case (name, body) =>
      op(s"ingest prefix $name")(tracer.span(s"operators.Ingest.$name")(body())._2.seconds)
        .map(name -> _)
    }.toMap
    rmrf(s"$root/prefix-sink")
    val recordsIn = op("count records")(raw.count()).getOrElse(-1L)
    val parsedN = op("count parsed")(parsed.count()).getOrElse(-1L)

    val base = Map[String, Any](
      "prefix_s" -> prefixS,
      "records_in" -> recordsIn,
      "records_corrupt" -> (if (recordsIn < 0 || parsedN < 0) -1L else recordsIn - parsedN),
      "untraced_s" -> untraced.getOrElse(Double.NaN))
    traced match {
      case Some((n, s, t)) => base ++ Map(
        "snapshot" -> snap,
        "keys_out" -> n,
        "run_s" -> s.seconds,
        "spark_jobs" -> t.jobs,
        "shuffle_write_bytes" -> t.shuffleWriteBytes,
        "spill_bytes" -> t.spillBytes,
        "peak_exec_mem_bytes" -> t.peakExecMem,
        "executor_cpu_s" -> t.cpuNs / 1e9,
        "gc_s" -> t.gcMs / 1e3,
        "snapshot_bytes" -> dirBytes(snap))
      case None => base
    }
  }

  // ------------------------------------------------------------ stream

  /** Drain one kafkalog backlog: kafkalog source with a fixed admission
    * cap → `parseKafkaShaped` → `latestWinsUpdates` → an append changelog
    * sink, on a back-to-back trigger. Returns the wall time and the
    * per-batch progress. */
  private def drain(spark: SparkSession, log: String, maxOffsets: Long,
      root: String, name: String): (Double, Seq[StreamingQueryProgress], String) = {
    import spark.implicits._
    val changelog = s"$root/$name-changelog.jsonl"
    Files.createDirectories(Paths.get(root))
    val src = spark.readStream.format("kafkalog")
      .option("path", log)
      .option("maxOffsetsPerTrigger", maxOffsets.toString)
      .load()
    val updates = StreamingIngest.latestWinsUpdates(
      StreamingIngest.parseKafkaShaped(src).as[StreamingIngest.KeyedRecord])
    val t0 = now()
    val q = updates.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$root/$name-checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the changelog: every emitted update, appended as one JSON line
        val lines = batch.collect().map { r =>
          Json(Map("id" -> r.getAs[Long]("id"), "version" -> r.getAs[Long]("version"),
            "msg" -> r.getAs[String]("msg"))) + "\n"
        }
        Files.write(Paths.get(changelog), lines.mkString.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val wall = secs(t0)
    q.exception.foreach(e => throw e)
    (wall, q.recentProgress.filter(_.numInputRows > 0).toSeq, changelog)
  }

  private def ingestStream(spark: SparkSession, tracer: Tracer, a: Map[String, String],
      root: String): Map[String, Any] = {
    val maxOffsets = a("max_offsets").toLong
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val warm = op("stream warm-up drain")(drain(spark, a("warmlog"), maxOffsets, root, "warm"))
    val res = op("stream drain") {
      val ((wall, progress, changelog), s) =
        tracer.span("streaming.StreamingIngest.drain")(drain(spark, a("kafkalog"), maxOffsets, root, "main"))
      (wall, progress, changelog, tracer.subtreeTotals(s))
    }
    // every micro-batch is one more attempted operation
    res.foreach { case (_, p, _, _) => attempted += p.size }
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    res match {
      case Some((wall, progress, changelog, t)) =>
        val last = progress.lastOption
        val state = last.flatMap(_.stateOperators.headOption)
        Map(
          "cold_s" -> warm.map(_._1).getOrElse(Double.NaN),
          "drain_s" -> wall,
          "records" -> progress.map(_.numInputRows).sum,
          "batches" -> progress.map { p =>
            Map("rows" -> p.numInputRows, "trigger_ms" -> d(p, "triggerExecution"),
              "add_batch_ms" -> d(p, "addBatch"), "latest_offset_ms" -> d(p, "latestOffset"),
              "commit_ms" -> (d(p, "walCommit") + d(p, "commitOffsets")))
          }.toList,
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(-1L),
          "state_mem_bytes" -> state.map(_.memoryUsedBytes).getOrElse(-1L),
          "input_bytes" -> t.inputBytes,
          "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "changelog" -> changelog)
      case None => Map("cold_s" -> warm.map(_._1).getOrElse(Double.NaN))
    }
  }

  // ------------------------------------------------------------ queries

  /** One query execution split into build (the `GQuery.run` call, eager
    * jobs included), plan (until the executed plan exists) and execute
    * (every row produced and dropped, as the noop sink does). */
  private def runQuery(spark: SparkSession, tracer: Tracer, q: GQuery,
      tables: String): Option[(Span, Span, Span, Span)] =
    op(s"query ${q.name}") {
      var parts: (Span, Span, Span) = null
      val (_, whole) = tracer.span(s"query.${q.name}") {
        val (df, b) = tracer.span(s"query.${q.name}.build")(q.run(spark, tables))
        val qe = df.queryExecution
        val (_, p) = tracer.span(s"query.${q.name}.plan")(qe.executedPlan)
        val (_, x) = tracer.span(s"query.${q.name}.execute") {
          SQLExecution.withNewExecutionId(qe, Some(q.name))(qe.toRdd.foreach(_ => ()))
        }
        parts = (b, p, x)
      }
      (whole, parts._1, parts._2, parts._3)
    }

  /** The traced run: a cold pass (the first execution of each query), the
    * correctness pass, then one traced warm pass. The end-to-end run: the
    * correctness pass, which is each query's first execution, then timed
    * warm passes. It times no cold pass: one cold execution per JVM spread
    * too widely from run to run to bound a regression, so the time goes to
    * the warm passes instead. */
  private def querySuite(spark: SparkSession, tracer: Tracer, tables: String,
      root: String, seconds: Double): Map[String, Any] = {
    val traced = tracer.enabled
    val suite = SparkEntry.registry.filter(_.bench)
    def pass(): (Seq[(String, Option[(Span, Span, Span, Span)])], Span) =
      tracer.span("query.pass")(suite.map(q => q.name -> runQuery(spark, tracer, q, tables)))
    val coldInfo = if (!traced) Map.empty[String, Map[String, Any]] else pass()._1.map { case (n, r) =>
      n -> r.map { case (w, b, p, x) =>
        Map("cold_s" -> w.seconds, "build_s" -> b.seconds, "plan_s" -> p.seconds,
          "execute_s" -> x.seconds, "build_jobs" -> tracer.totalsOf(b).jobs)
      }.getOrElse(Map.empty)
    }.toMap
    // correctness pass, outside every timed region: each result to
    // parquet. It also warms the JIT up for the warm passes.
    val results = s"$root/results"
    suite.foreach { q =>
      op(s"result ${q.name}")(q.run(spark, tables).write.mode("overwrite").parquet(s"$results/${q.name}"))
    }
    Files.write(Paths.get(s"$root/oracle.json"),
      Json(suite.flatMap(q => q.oracle.map(q.name -> _)).toMap).getBytes("UTF-8"))
    val warm = mutable.ArrayBuffer.empty[Seq[(String, Option[(Span, Span, Span, Span)])]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (!traced) {
      val read = new RecordsRead
      spark.sparkContext.addSparkListener(read)
      var spent = 0.0
      while (spent < seconds || warm.size < MinWarmPasses) {
        collectGarbage()
        val (r, s) = pass()
        warm += r
        spent += s.seconds
      }
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(read)
      extra("rows_read_per_pass") = read.total.toDouble / warm.size
    } else {
      val (r, _) = pass()
      warm += r
      extra("warm_detail") = r.collect { case (n, Some((w, _, _, _))) =>
        val t = tracer.subtreeTotals(w)
        n -> Map("shuffle_write_bytes" -> t.shuffleWriteBytes, "spill_bytes" -> t.spillBytes)
      }.toMap
    }
    val warmS = suite.map { q =>
      q.name -> warm.flatMap(_.find(_._1 == q.name).flatMap(_._2)).map(_._1.seconds).toList
    }.toMap
    Map("queries" -> suite.map(_.name).toList, "cold" -> coldInfo, "warm_s" -> warmS,
      "results" -> results, "oracle" -> s"$root/oracle.json") ++ extra
  }
}

/** Session set-up, timed: build the session, then run a trivial query. */
object Setup {
  def build(cores: Int, runDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()

  /** Set-ups per run; the run reports their median. */
  val Reps = 7

  /** `Reps` set-ups, each timed as (build, first trivial query); all but
    * the last session are stopped again. */
  def timed(cores: Int, runDir: String): (SparkSession, Seq[(Double, Double)]) = {
    val times = mutable.ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (i <- 1 to Reps) {
      val t0 = System.nanoTime()
      spark = build(cores, runDir)
      val t1 = System.nanoTime()
      spark.sql("SELECT 1").collect()
      val t2 = System.nanoTime()
      if (i == 1) spark.sparkContext.setLogLevel("WARN")
      times += (((t1 - t0) / 1e9, (t2 - t1) / 1e9))
      if (i < Reps) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    (spark, times.toList)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
