package graft

import graft.operators.Ingest
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{KeyedRecord, latestWinsResumed}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Bootstrapped-state migration: a streaming upsert seeded from a batch
  * snapshot and fed only the delta must land on the same final state as
  * a full-history batch latest-wins — including suppressing delta rows
  * staler than the snapshot.
  */
class InitStateSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("snapshot + delta through initial-state tws equals full-history latest-wins") {
    // history = the events table keyed by user; snapshot folds the first
    // 60%, delta replays the rest PLUS stale duplicates of early rows
    val all = Tables.t(spark, sf, "events")
      .select(col("user_id").as("id"), col("event_type").as("msg"),
        col("event_id").as("version"))
      .as[KeyedRecord].collect().sortBy(_.version)
    val cut = (all.length * 0.6).toInt
    val snapshot = Ingest.latestWins(
        spark.createDataset(all.take(cut).toIndexedSeq).toDF(),
        keys = Seq("id"), version = Seq("version"))
      .as[KeyedRecord]
    val delta = all.drop(cut) ++ all.take(20) // stale re-deliveries

    StreamingIngest.withRocksDbState(spark) {
      val ms = MemoryStream[KeyedRecord]
      val q = latestWinsResumed(ms.toDS(), snapshot)
        .writeStream.format("memory").queryName("resumed_upsert")
        .outputMode("update").start()
      try {
        delta.grouped(delta.length / 2 + 1).foreach { chunk =>
          ms.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    // final state = snapshot overridden by emitted updates
    val updates = Ingest.latestWins(spark.table("resumed_upsert"),
      keys = Seq("id"), version = Seq("version"))
    val finalState = Ingest.latestWins(
      snapshot.toDF().unionByName(updates),
      keys = Seq("id"), version = Seq("version"))
    val expect = Ingest.latestWins(
      spark.createDataset(all.toIndexedSeq).toDF(),
      keys = Seq("id"), version = Seq("version"))
    assert(finalState.except(expect).isEmpty && expect.except(finalState).isEmpty,
      "resumed state must equal full-history latest-wins")
    // stale re-deliveries emitted nothing: every update beats the snapshot
    val snapV = snapshot.toDF().select(col("id"), col("version").as("sv"))
    val bad = spark.table("resumed_upsert").join(snapV, Seq("id"), "left")
      .where(col("sv").isNotNull && col("version") <= col("sv"))
    assert(bad.count() == 0, "no update may be <= its snapshot version")
  }
}
