package graft

import graft.sources.kafkalog.KafkaLog
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** State-cardinality scale gate for the streaming latest-wins upsert:
  * the claim "state is O(live keys) in a sharded RocksDB store, strictly
  * better than the reference's unbounded in-heap HashMap
  * (`HadoopKafkaConsumer.java:55-90`)" gets a measured point here —
  * 1M distinct keys, 2M records, replayed in ~32 admission-controlled
  * micro-batches through the kafkalog source (admission is in OFFSET
  * units, Kafka-style, and this log's per-partition offsets have gaps
  * of 8 — so each 500k-offset trigger admits ~62.5k rows). Nothing is
  * ever materialized on the driver.
  *
  * Asserted invariants:
  *  - the store ends at exactly 1M state rows (one per live key);
  *  - per-batch wall time stays FLAT as state accumulates (the last
  *    batch runs against a 1M-key store; if per-batch cost scaled with
  *    stored keys rather than batch size, it would blow past the ratio
  *    gate);
  *  - driver+executor heap stays bounded — the keys live in RocksDB
  *    (native memory + disk), not a JVM HashMap, so 1M keys must not
  *    drag the JVM toward its 8g ceiling.
  *
  * Measured numbers are printed as one `[state-scale]` line and recorded
  * in SCALE.md per round.
  */
class StateScaleSpec extends SparkSpec {
  import spark.implicits._

  test("latestWinsUpdatesTws: 1M keys, flat per-batch cost, bounded heap") {
    val keys = 1000000L
    val records = 2 * keys // every key gets version 0 (m0) then version 1 (m1)
    val dir = Scratch.dir("kafkalog_state_scale")
    KafkaLog.write(
      spark.range(records).select(
        (col("id") % 8).cast("int").as("partition"),
        col("id").as("offset"),
        concat(lit("m"), (col("id") / keys).cast("string")).as("value")),
      dir)

    val src = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", records / 4)
      .load(dir)
      .select((col("offset") % keys).as("id"), col("value").as("msg"),
        col("offset").as("version"))
      .as[KeyedRecord]
    // foreachBatch reports sink.numOutputRows as -1, so the update-log
    // size is counted here (count() fully executes each batch)
    val emitted = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val q = StreamingIngest.drain(StreamingIngest.latestWinsUpdatesTws(src)) {
      _.outputMode("update").foreachBatch { (b: Dataset[KeyedRecord], _: Long) =>
        emitted.addAndGet(b.count()): Unit
      }
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    val prog = q.recentProgress.filter(_.numInputRows > 0)
    val durations = prog.map(_.batchDuration / 1000.0)
    val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal)).max
    val outputRows = emitted.get()
    System.gc()
    val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) >> 20
    println(f"[state-scale] keys=$keys records=$records batches=${prog.length} " +
      f"wall=$wallSec%.1fs durations=${durations.map(d => f"$d%.1f").mkString(",")}s " +
      f"stateRows=$stateRows outputRows=$outputRows heapMB=$heapMb")

    assert(prog.length >= 4, s"admission must split the replay, got ${prog.length} batches")
    assert(stateRows == keys, s"state must hold exactly one row per key, got $stateRows")
    // every key's final m1 record strictly supersedes m0, so at least
    // one update per key must have been emitted; at most one per
    // (key, version)
    assert(outputRows >= keys && outputRows <= records,
      s"update log out of range: $outputRows")
    // flat per-batch cost: the last batch faces a 1M-key store but the
    // same admission-sized input — allow 3x the median for noise, which
    // still rules out O(stored-keys) per-batch scans
    val median = durations.sorted.apply(durations.length / 2)
    assert(durations.last < math.max(3 * median, 30.0),
      s"per-batch cost grew with state: ${durations.mkString(",")}")
    assert(heapMb < 4096,
      s"1M keys must live in RocksDB, not the JVM heap ($heapMb MB used)")
  }
}
