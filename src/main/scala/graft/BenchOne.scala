package graft

/** Dev micro-bench: time named registry queries (cold + N warm reps) on
  * SPARK_GRAFT_SF_DIR through the same noop sink as [[Bench]].
  *
  *   sbt "runMain graft.BenchOne dedup_ngram_jaccard asof_join"
  *
  * Prints per-query cold and min-warm seconds — min over reps is the
  * stable signal for plan-shape comparisons (GC/JIT noise collapses).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_REPS=0 → cold-only (warm_min omitted): the long
    // scale-wave legs at sf16x+ run minutes each and the cold number is
    // the one the wave tables record.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Quiet-box label, same machinery as Bench (QuietBox): SCALE.md's
    // wave rows adjudicate scale claims, so each run stamps its own
    // busy_frac instead of relying on "idle box" prose (r15 verdict
    // task 3). Start window sampled before the session exists.
    val busyStart = QuietBox.busyWindow()
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()

    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    // no args → sweep the ENTIRE registry (the round-5 outlier hunt);
    // pipe through `sort -k3` on the warm_min column to rank
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.registry.map(_.name)

    // SPARK_GRAFT_METRICS=1 → per-query physical totals from a stage
    // listener: input bytes, shuffle read/write bytes, spill. The
    // numbers that actually predict 100 TB behavior — wall-clock tells
    // you a query is slow, shuffle bytes tell you WHY and how it
    // scales. Totals cover cold + all warm runs; divide by `runs` for
    // per-run. Caveat: input_mb under-reports on local filesystems
    // (Hadoop's "file"-scheme statistics miss some vectorized-reader
    // paths) — shuffle and spill are the trustworthy columns here, and
    // they are the scale-relevant ones. Reset between queries after an
    // async-bus settle pause.
    val metrics = sys.env.get("SPARK_GRAFT_METRICS").contains("1")
    val input = new java.util.concurrent.atomic.AtomicLong
    val shRead = new java.util.concurrent.atomic.AtomicLong
    val shWrite = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
    if (metrics) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) {
            input.addAndGet(m.inputMetrics.bytesRead)
            shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spill.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    def mb(l: Long): String = f"${l / 1048576.0}%8.1f"

    names.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query: $name"))
      def once(): Double = {
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val warms = (1 to reps).map(_ => once())
      val warmCols = if (warms.isEmpty) "warm=none"
        else f"warm_min=${warms.min}%6.3f warm=${warms.map(w => f"$w%.3f").mkString(",")}"
      println(f"[benchone] $name%-28s cold=$cold%6.3f $warmCols")
      if (metrics) {
        // the listener bus is async (and its flush API is private) —
        // a dev tool can afford a settle pause instead
        Thread.sleep(300)
        val runs = 1 + reps // totals cover cold + all warm reps
        println(f"[benchmetrics] $name%-28s runs=$runs input_mb=${mb(input.get)} " +
          f"shuffle_r_mb=${mb(shRead.get)} shuffle_w_mb=${mb(shWrite.get)} spill_mb=${mb(spill.get)}")
        input.set(0); shRead.set(0); shWrite.set(0); spill.set(0)
      }
    }
    // End window AFTER spark.stop() so this session's own residual
    // threads don't count toward busy (r15 advisor, same as Bench).
    spark.stop()
    val busyEnd = QuietBox.busyWindow()
    val contended = busyStart > QuietBox.Threshold || busyEnd > QuietBox.Threshold
    println(f"[benchquiet] busy_frac_start=$busyStart%.4f busy_frac_end=$busyEnd%.4f contended=$contended")
  }
}
