package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming OBSERVABILITY: a bounded in-memory progress log fed by a
  * `StreamingQueryListener`, read as a list of rows. This is the ops
  * surface the reference pipeline has none of (its job runs blind:
  * `HadoopKafkaConsumer.java` reports nothing per batch) and that any
  * production stream needs: per-micro-batch input rows, processing rate,
  * state size, and watermark — the four numbers that tell you whether a
  * stream is keeping up, leaking state, or stuck on a stalled watermark.
  *
  * Design points for real deployments:
  *  - the listener runs on the driver's listener bus — it must never
  *    block or grow unboundedly, so the log is a fixed-capacity ring
  *    (oldest progress evicted) and recording is O(1) per batch;
  *  - [[ProgressLog.snapshot]] copies the ring into a local list (the
  *    ring is driver-memory-sized by construction), which
  *    `spark.createDataFrame` turns into a frame for SQL dashboards;
  *  - listeners are session-global: [[attach]] returns the handle used
  *    to [[detach]], so suites and co-resident jobs do not leak
  *    listeners into each other.
  */
object StreamingMetrics {

  /** One micro-batch observation (a row of the progress log).
    * `stateRows` is the store's LIVE total after the batch (the leak
    * detector: it must track live keys, not history); `stateRowsUpdated`
    * / `stateRowsRemoved` are the batch's write traffic (the cost
    * detector: per-batch ops must track batch size, not store size);
    * `stateMemoryBytes` is the provider's reported footprint (for
    * RocksDB this is native memory + block cache, NOT JVM heap).
    */
  case class BatchProgress(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      processedRowsPerSecond: Double,
      stateRows: Long,
      stateRowsUpdated: Long,
      stateRowsRemoved: Long,
      stateMemoryBytes: Long,
      watermark: String)

  /** Fixed-capacity progress ring; thread-safe (listener-bus thread
    * writes, any thread reads).
    */
  final class ProgressLog(capacity: Int) extends StreamingQueryListener {
    private val ring = new java.util.ArrayDeque[BatchProgress](capacity)

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = if (p.stateOperators == null) Array.empty[org.apache.spark.sql.streaming.StateOperatorProgress]
        else p.stateOperators
      val wm = Option(p.eventTime)
        .flatMap(m => Option(m.get("watermark"))).getOrElse("")
      val row = BatchProgress(
        Option(p.name).getOrElse(""),
        p.batchId,
        p.numInputRows,
        p.processedRowsPerSecond,
        ops.map(_.numRowsTotal).sum,
        ops.map(_.numRowsUpdated).sum,
        ops.map(_.numRowsRemoved).sum,
        ops.map(_.memoryUsedBytes).sum,
        wm)
      ring.synchronized {
        if (ring.size() >= capacity) ring.pollFirst()
        ring.addLast(row)
      }
    }

    def snapshot: Seq[BatchProgress] = ring.synchronized {
      import scala.jdk.CollectionConverters._
      ring.asScala.toList
    }
  }

  /** Attach a fresh progress log to the session; returns the handle for
    * [[detach]].
    */
  def attach(spark: SparkSession, capacity: Int = 256): ProgressLog = {
    val log = new ProgressLog(capacity)
    spark.streams.addListener(log)
    log
  }

  def detach(spark: SparkSession, log: ProgressLog): Unit =
    spark.streams.removeListener(log)
}
