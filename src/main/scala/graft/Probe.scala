package graft

import graft.operators.SimilarityOps
import graft.streaming.StreamingMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, count}
import org.apache.spark.sql.graftinternal.GraftBus

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** The dev probe: one main whose first argument picks a mode, over the
  * registry queries on `SPARK_GRAFT_SF_DIR` (default, as [[Bench]]:
  * `/root/testdata/sf0.1`).
  *
  *   tools/grun.sh graft.Probe time [query...]
  *   tools/grun.sh graft.Probe analyze query...
  *   tools/grun.sh graft.Probe explain outDir tag query...
  *   tools/grun.sh graft.Probe stream [query...]
  *   tools/grun.sh graft.Probe keydump [rowCap] [planes:tables...]
  *
  * Every mode runs on the factory's session ([[GraftSession]], as the
  * bench does), so the plans it shows are the ones the bench executes.
  * Listener totals are read after [[GraftBus.drain]], not after a sleep.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val mode: SparkSession => Unit = args.headOption match {
      case Some("time") =>
        // 0 = cold only: a long scale-wave leg runs minutes per query,
        // and the cold number is the one the wave tables record.
        val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
        time(_, sfDir, names, reps)
      case Some("analyze") => analyze(_, sfDir, names)
      case Some("explain") if names.size >= 2 =>
        explain(_, sfDir, names.head, names(1), names.drop(2))
      case Some("stream") => stream(_, sfDir, names)
      case Some("keydump") => keyDump(_, sfDir, names, "target/keydump")
      case _ => sys.error("usage: Probe time [query...] | analyze query... | " +
        "explain outDir tag query... | stream [query...] | keydump [rowCap] [planes:tables...]")
    }
    // `time` labels its run as the bench does ([[QuietBox]]): the start
    // window is sampled before the session exists and the end window
    // after spark.stop(), so this JVM's own threads count in neither.
    val quiet = args.head == "time"
    val busyStart = if (quiet) QuietBox.busyWindow() else 0.0
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
    if (quiet) {
      val busyEnd = QuietBox.busyWindow()
      val contended = busyStart > QuietBox.Threshold || busyEnd > QuietBox.Threshold
      println(f"[benchquiet] busy_frac_start=$busyStart%.4f busy_frac_end=$busyEnd%.4f contended=$contended")
    }
  }

  private def query(name: String): GQuery =
    SparkEntry.registry.find(_.name == name).getOrElse(sys.error(s"unknown query: $name"))

  /** One query's `time` result: seconds per run, and stage totals in
    * bytes over the cold run and every warm run.
    */
  case class Timing(name: String, cold: Double, warm: Seq[Double], inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** Cold and warm seconds per query through [[Bench]]'s noop sink, and
    * its stage totals (no names: the whole registry; rank the sweep with
    * `sort -k3` on warm_min). Min over warm runs is the stable signal
    * for plan-shape comparisons: GC and JIT noise collapse.
    *
    * Wall-clock says a query is slow; shuffle bytes say why and how it
    * scales. input_mb under-reports on local filesystems (Hadoop's
    * "file"-scheme statistics miss some vectorized-reader paths), so
    * shuffle and spill are the columns to trust.
    */
  def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Seq[Timing] = {
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    val totals = Array.fill(4)(new AtomicLong) // input, shuffle read, shuffle write, spill
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        Option(sc.stageInfo.taskMetrics).foreach { m =>
          Seq(m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
            .zip(totals).foreach { case (v, t) => t.addAndGet(v) }
        }
    }
    val sc = spark.sparkContext
    GraftBus.drain(sc) // the warm-up's stages are not the first query's
    sc.addSparkListener(listener)
    try (if (names.nonEmpty) names else SparkEntry.registry.map(_.name)).map { name =>
      val q = query(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val warm = (1 to reps).map(_ => once())
      val warmCols = if (warm.isEmpty) "warm=none"
        else f"warm_min=${warm.min}%6.3f warm=${warm.map(w => f"$w%.3f").mkString(",")}"
      println(f"[benchone] $name%-28s cold=$cold%6.3f $warmCols")
      GraftBus.drain(sc)
      val Array(input, shRead, shWrite, spill) = totals.map(_.getAndSet(0))
      def mb(l: Long): String = f"${l / 1048576.0}%8.1f"
      println(f"[benchmetrics] $name%-28s runs=${1 + reps} input_mb=${mb(input)} " +
        f"shuffle_r_mb=${mb(shRead)} shuffle_w_mb=${mb(shWrite)} spill_mb=${mb(spill)}")
      Timing(name, cold, warm, input, shRead, shWrite, spill)
    } finally sc.removeSparkListener(listener)
  }

  /** EXPLAIN ANALYZE: execute each query, then print its FINAL physical
    * plan (after AQE re-planning) with each operator's runtime metrics,
    * which `.explain` cannot show: which join exploded, which aggregate
    * reduced, where rows died.
    */
  def analyze(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val df = query(name).run(spark, sfDir)
      // drive THIS QueryExecution's physical plan (a noop write would
      // wrap the query in its own command plan and leave these metric
      // instances untouched)
      df.queryExecution.toRdd.foreachPartition(_ => ())
      println(s"\n======== $name (analyzed) ========")
      print(render(df.queryExecution.executedPlan, 0))
    }

  /** The per-operator metrics `analyze` shows, when non-zero. */
  private val Shown = Seq("numOutputRows", "numFiles", "filesSize",
    "shuffleBytesWritten", "dataSize", "spillSize", "numPartitions",
    "peakMemory", "maxProbeKeys")

  private def render(p: SparkPlan, indent: Int): String = p match {
    case a: AdaptiveSparkPlanExec => render(a.executedPlan, indent)
    case _ =>
      val ms = p.metrics.toSeq
        .filter { case (k, m) => Shown.contains(k) && m.value > 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(" ")
      ("  " * indent) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else "") + "\n" +
        p.children.map(render(_, indent + 1)).mkString +
        // AQE nests reused and shuffle stages as leaves wrapping their plans
        (p match {
          case s: QueryStageExec => render(s.plan, indent + 1)
          case _ => ""
        })
  }

  /** Each query's `.explain("formatted")` to `<outDir>/<q>_<tag>.txt`:
    * the evidence artifact of an optimization round (`plans/rNN/`).
    */
  def explain(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = query(name).run(spark, sfDir).queryExecution.explainString(FormattedMode)
      val file = s"$outDir/${name}_$tag.txt"
      Files.writeString(Paths.get(file), plan)
      println(s"[explainto] wrote $file (${plan.length} chars)")
    }
  }

  /** The stateful streaming queries `stream` runs when none is named. */
  private val StatefulSet = Seq("streaming_latest_upsert", "streaming_tws_upsert",
    "streaming_sessionize", "streaming_neardup_dedup",
    "streaming_kafkalog_tws_upsert", "streaming_absence_alert")

  /** Per-micro-batch state-store metrics of streaming queries, from a
    * [[StreamingMetrics]] progress log: input rows, live state rows,
    * rows updated and removed, and the provider's state memory.
    *
    * For the state to scale, a batch's `updated` must track the batch's
    * row count (write traffic is O(batch)) while `state_rows` tracks
    * live keys only: if it grows linearly with the batches fed, the
    * operator leaks state.
    */
  def stream(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    (if (names.nonEmpty) names else StatefulSet).foreach { name =>
      val log = StreamingMetrics.attach(spark)
      try {
        val t0 = System.nanoTime()
        val n = query(name).run(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // The query's streams have stopped, so every progress event is
        // posted; the drain delivers them to the log.
        GraftBus.drain(spark.sparkContext)
        val rows = log.snapshot
        println(f"== $name: $n rows, $sec%.2f s, ${rows.size} batches captured ==")
        rows.foreach(b => println(
          f"  batch=${b.batchId}%3d input=${b.numInputRows}%8d state_rows=${b.stateRows}%8d " +
            f"updated=${b.stateRowsUpdated}%8d removed=${b.stateRowsRemoved}%6d " +
            f"state_mem_kb=${b.stateMemoryBytes / 1024}%8d wm=${b.watermark}"))
      } catch {
        case e: Throwable => println(s"== $name FAILED: ${e.getMessage} ==")
      } finally StreamingMetrics.detach(spark, log)
    }

  /** Codegen-kernel microbench of the SRP keying stage: times
    * `SimilarityOps.srpKeyed` at pinned (planes, tables) widths over the
    * first `rowCap` vectors of `$sfDir/embeddings.parquet` (default
    * 20000, widths 12:16 13:18 14:20), and prints each stage's generated
    * code size and janino bytecode stats: whether the keying method
    * stays under HotSpot's 8000-bytecode JIT ceiling (SCALE.md "Round-16:
    * the hugeMethodLimit evidence"). Each stage's source is written to
    * `<codeDir>/p<planes>_t<tables>_s<stage>.java`.
    */
  def keyDump(spark: SparkSession, sfDir: String, args: Seq[String], codeDir: String): Unit = {
    val rowCap = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(20000)
    val widths = args.filter(_.contains(":")) match {
      case Seq() => Seq((12, 16), (13, 18), (14, 20))
      case ws => ws.map { w =>
        val Array(p, t) = w.split(":"); (p.toInt, t.toInt)
      }
    }
    // AQE off, so the static plan holds the whole-stage codegen stages
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as em")
      .where(col("vec_id") < rowCap)
    e.count()
    Files.createDirectories(Paths.get(codeDir))
    for ((p, t) <- widths) {
      val keyed = SimilarityOps.srpKeyed(e, p, t, dims = 64, stride = SimilarityOps.SrpStride)
        .select(count(col("bk")))
      val codes = org.apache.spark.sql.execution.debug
        .codegenStringSeq(keyed.queryExecution.executedPlan)
      val t0 = System.nanoTime()
      try {
        keyed.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[keydump] planes=$p tables=$t wall=$secs%.2f s " +
          s"stages=${codes.size} codeChars=${codes.map(_._2.length).mkString(",")} " +
          s"bytecodeStats=${codes.map(_._3.toString).mkString(";")}")
        codes.zipWithIndex.foreach { case ((_, code, bcs), i) =>
          val file = s"$codeDir/p${p}_t${t}_s$i.java"
          Files.writeString(Paths.get(file), code)
          println(s"[keydump] wrote $file bytecodeStats=$bcs")
        }
      } catch { case ex: Throwable =>
        println(s"[keydump] planes=$p tables=$t FAILED: " + ex.toString.take(300))
      }
    }
  }
}
