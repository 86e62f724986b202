package graft

import graft.streaming.StreamingMetrics

/** Per-micro-batch STATE-STORE metrics for the registry's streaming
  * differentials — the measurement harness behind SCALE.md's streaming
  * state table. Runs each named query with a [[StreamingMetrics]]
  * progress log attached and prints one line per captured micro-batch:
  * input rows, live state rows, state rows updated/removed, and the
  * provider's reported state memory.
  *
  * What the numbers must show for the 100 TB story to hold:
  * per-batch `updated` tracks the BATCH's row count (write traffic is
  * O(batch)), while `rows` tracks LIVE keys only (the store does not
  * accumulate history) — if `rows` grows linearly with batches fed the
  * operator is leaking state and no cluster size saves it.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.StreamProbe streaming_latest_upsert streaming_tws_upsert"`
  * (no args = the default stateful set).
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("streaming_latest_upsert", "streaming_tws_upsert",
        "streaming_sessionize", "streaming_neardup_dedup",
        "streaming_kafkalog_tws_upsert", "streaming_absence_alert")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val log = StreamingMetrics.attach(spark)
      try {
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // the listener bus is async — drain it to QUIESCENCE (size
        // unchanged across two consecutive sleeps), not just to the
        // first row: multi-batch queries (kafkalog 4-batch upsert,
        // watermark ticks) deliver later progress events after the
        // first, and stopping early under-reports batches in the
        // SCALE.md state tables this harness generates
        var rows = log.snapshot
        val deadline = System.nanoTime() + 10_000_000_000L
        var stable = 0
        while (stable < 2 && System.nanoTime() < deadline) {
          Thread.sleep(150)
          val next = log.snapshot
          if (next.size == rows.size && next.nonEmpty) stable += 1 else stable = 0
          rows = next
        }
        println(f"== $name: $n rows, $sec%.2f s, ${rows.size} batches captured ==")
        rows.foreach(b => println(
          f"  batch=${b.batchId}%3d input=${b.numInputRows}%8d state_rows=${b.stateRows}%8d " +
            f"updated=${b.stateRowsUpdated}%8d removed=${b.stateRowsRemoved}%6d " +
            f"state_mem_kb=${b.stateMemoryBytes / 1024}%8d wm=${b.watermark}"))
      } catch {
        case e: Throwable => println(s"== $name FAILED: ${e.getMessage} ==")
      } finally StreamingMetrics.detach(spark, log)
    }
    spark.stop()
  }
}
