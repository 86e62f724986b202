package graft

import graft.streaming.{StreamingIngest, StreamingMetrics}
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming progress log: listener captures per-batch rows/state/
  * watermark, ring stays bounded, detach stops capture.
  */
class StreamingMetricsSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("progress log captures input rows and state size of a stateful stream") {
    val log = StreamingMetrics.attach(spark)
    try {
      val ms = MemoryStream[KeyedRecord]
      val q = StreamingIngest.latestWinsUpdates(ms.toDS())
        .writeStream.format("memory").queryName("metrics_probe")
        .outputMode("update").start()
      try {
        ms.addData(KeyedRecord(1, "a", 1), KeyedRecord(2, "b", 1))
        q.processAllAvailable()
        ms.addData(KeyedRecord(1, "a2", 2), KeyedRecord(3, "c", 1))
        q.processAllAvailable()
      } finally q.stop()
      // listener bus is async; progress may trail processAllAvailable
      var rows = log.snapshot
      val deadline = System.nanoTime() + 10_000_000_000L
      while (rows.map(_.numInputRows).sum < 4 && System.nanoTime() < deadline) {
        Thread.sleep(100); rows = log.snapshot
      }
      assert(rows.map(_.numInputRows).sum == 4,
        s"all fed rows must be observed, got $rows")
      assert(rows.exists(_.stateRows > 0),
        "stateful dedup must report live state rows")
      assert(rows.forall(_.queryName == "metrics_probe"))
      // frame view carries the same observations
      val df = log.snapshot.toDF()
      assert(df.agg(sum("numInputRows")).collect()(0).getLong(0) == 4)
    } finally StreamingMetrics.detach(spark, log)
  }

  test("ring capacity bounds the log; detach stops capture") {
    val log = StreamingMetrics.attach(spark, capacity = 3)
    try {
      val ms = MemoryStream[KeyedRecord]
      val q = StreamingIngest.latestWinsUpdates(ms.toDS())
        .writeStream.format("memory").queryName("metrics_ring")
        .outputMode("update").start()
      try (1 to 6).foreach { i =>
        ms.addData(KeyedRecord(i.toLong, s"m$i", i.toLong))
        q.processAllAvailable()
      } finally q.stop()
      var n = log.snapshot.size
      val deadline = System.nanoTime() + 5_000_000_000L
      while (n < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100); n = log.snapshot.size
      }
      assert(log.snapshot.size <= 3, "ring must evict beyond capacity")
      assert(log.snapshot.nonEmpty)
    } finally StreamingMetrics.detach(spark, log)
    val before = log.snapshot.map(_.batchId)
    // a post-detach stream must not extend this log
    val ms2 = MemoryStream[KeyedRecord]
    val q2 = StreamingIngest.latestWinsUpdates(ms2.toDS())
      .writeStream.format("memory").queryName("metrics_after")
      .outputMode("update").start()
    try { ms2.addData(KeyedRecord(99, "z", 1)); q2.processAllAvailable() }
    finally q2.stop()
    Thread.sleep(500)
    assert(log.snapshot.map(_.batchId) == before, "detached log must be frozen")
  }
}
