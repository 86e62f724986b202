package graft

import graft.sources.kafkalog.KafkaLog
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** CRASH-RECOVERY differential for the stateful streaming path — the
  * exactly-once claim the reference's delete-and-rewrite snapshot never
  * had (`HadoopKafkaConsumer.java:92-101` re-reads the whole topic
  * after any crash; here the checkpoint replays ONE batch and the
  * RocksDB state store resumes where it left off).
  *
  * Shape: the `streaming_kafkalog_tws_upsert` pipeline (kafkalog source
  * under a 4-batch admission cap → `transformWithState` latest-wins on
  * RocksDB) is run twice against the same log:
  *
  *  - leg A (one-shot): fresh checkpoint, drains all 4 batches;
  *  - leg B (crash): fresh checkpoint, an injected failure kills the
  *    query at the START of batch 2 (offsets 0-1 committed, batch 2's
  *    planned range already in the offset WAL), then the SAME query
  *    definition restarts from the SAME checkpoint and drains.
  *
  * Both legs snapshot each micro-batch's emitted updates to a
  * `gen-<batchId>` dir (overwrite per batch id, so an at-least-once
  * foreachBatch replay is idempotent). The assertions:
  *
  *  1. per-batch emissions are IDENTICAL between legs — the restart
  *     replayed exactly the WAL'd batch-2 offset range (no loss, no
  *     re-read) and the resumed state made the same update decisions;
  *  2. the post-restart batches contain ONLY the genuinely-new
  *     versions: the fixture plants STALE versions (lower than what
  *     batches 0-1 put in state) arriving AFTER the crash point — a
  *     restart that lost or rebuilt state would emit them as fresh
  *     updates, so their absence is direct proof the store resumed;
  *  3. the folded final snapshots agree row-for-row.
  */
class TwsRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("msg", StringType),
    StructField("version", LongType)))

  /** 1 partition × 40 dense offsets → exactly 4 batches under cap 10.
    * Versions are carried IN the payload (not the offset), with stale
    * re-arrivals planted in batches 2 and 3:
    *  batch 0: keys 0-9 at version 100+k
    *  batch 1: keys 0-9 at version 200+k
    *  batch 2: keys 0-4 STALE at 50+k (suppressed), keys 5-9 at 300+k
    *  batch 3: keys 0-4 at 400+k, keys 5-9 STALE at 10+k (suppressed)
    */
  private def fixture(dir: String): Unit = {
    def rec(off: Long, k: Long, v: Long, m: String) =
      (0, off, s"""{"id":$k,"msg":"$m","version":$v}""")
    val rows =
      (0L to 9L).map(k => rec(k, k, 100 + k, "b0")) ++
      (0L to 9L).map(k => rec(10 + k, k, 200 + k, "b1")) ++
      (0L to 4L).map(k => rec(20 + k, k, 50 + k, "stale")) ++
      (5L to 9L).map(k => rec(25 + k - 5, k, 300 + k, "b2")) ++
      (0L to 4L).map(k => rec(30 + k, k, 400 + k, "b3")) ++
      (5L to 9L).map(k => rec(35 + k - 5, k, 10 + k, "stale2"))
    KafkaLog.write(rows.toDF("partition", "offset", "value"), dir)
  }

  /** Start the tws upsert from `log` with checkpoint `ckpt`, writing
    * each batch's emissions to `out/gen-<bid>`; `bombAtBatch` injects a
    * failure at the start of that batch id (before any write), and
    * `bombAfterBatch` AFTER the batch's sink write has landed but
    * before the micro-batch can commit — the crash point that forces an
    * at-least-once sink REPLAY on restart. Every completed sink write
    * bumps the per-(out, batch) invocation counter so tests can assert
    * exactly which batches replayed.
    */
  private def drive(log: String, ckpt: String, out: String,
      bombAtBatch: Option[Long], bombAfterBatch: Option[Long] = None): Unit = {
    val parsed = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 10)
      .load(log)
      .select(from_json(col("value"), schema).as("r"))
      .select(col("r.id"), col("r.msg"), col("r.version"))
      .as[KeyedRecord]
    try StreamingIngest.drain(StreamingIngest.latestWinsUpdatesTws(parsed)) {
      _.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyedRecord], bid: Long) =>
          if (bombAtBatch.exists(bid >= _))
            throw new RuntimeException("injected crash")
          batch.write.mode("overwrite").parquet(s"$out/gen-$bid")
          TwsRecoverySpec.bump(out, bid)
          if (bombAfterBatch.exists(bid >= _))
            throw new RuntimeException("injected crash after sink write")
        }
    } catch { case _: Throwable => () } // injected crash surfaces here
  }

  private def gens(out: String): Map[Long, Seq[(Long, String, Long)]] =
    new java.io.File(out).listFiles().toSeq
      .filter(_.getName.startsWith("gen-"))
      .map { d =>
        d.getName.drop(4).toLong ->
          spark.read.parquet(d.toString).as[(Long, String, Long)]
            .collect().toSeq.sorted
      }.toMap

  test("tws upsert killed after batch 2 of 4 resumes to the one-shot result") {
    val log = Scratch.dir("log"); fixture(log)

    val outA = Scratch.dir("outA")
    drive(log, Scratch.dir("ckA"), outA, bombAtBatch = None)
    val a = gens(outA)
    assert(a.keySet == Set(0L, 1L, 2L, 3L), s"one-shot must run 4 batches, got ${a.keySet}")

    val outB = Scratch.dir("outB")
    val ckB = Scratch.dir("ckB")
    drive(log, ckB, outB, bombAtBatch = Some(2))
    val mid = gens(outB)
    assert(mid.keySet == Set(0L, 1L),
      s"crash leg must commit exactly batches 0-1 before dying, got ${mid.keySet}")

    drive(log, ckB, outB, bombAtBatch = None) // restart from the SAME checkpoint
    val b = gens(outB)

    // 1. per-batch emissions identical — offsets AND state resumed
    assert(b.keySet == a.keySet, s"resumed leg batch ids ${b.keySet} != ${a.keySet}")
    a.keySet.foreach { bid =>
      assert(b(bid) == a(bid),
        s"batch $bid diverged after recovery:\n one-shot=${a(bid)}\n resumed=${b(bid)}")
    }

    // 2. the planted stale versions must be SUPPRESSED by resumed state:
    //    batch 2 emits only keys 5-9 (the 300+k updates), batch 3 only
    //    keys 0-4 — a restart that lost state would emit the stale rows
    assert(b(2L).map(_._1).toSet == Set(5L, 6L, 7L, 8L, 9L),
      s"batch 2 after recovery must carry only the fresh keys, got ${b(2L)}")
    assert(b(2L).forall(_._2 == "b2"), "stale post-crash rows leaked into batch 2")
    assert(b(3L).map(_._1).toSet == Set(0L, 1L, 2L, 3L, 4L),
      s"batch 3 after recovery must carry only the fresh keys, got ${b(3L)}")
    assert(b(3L).forall(_._2 == "b3"), "stale post-crash rows leaked into batch 3")

    // 3. folded final snapshots agree (and match the batch-leg truth)
    def fold(out: String) =
      operators.Ingest.latestWins(spark.read.parquet(s"$out/gen-*"),
          keys = Seq("id"), version = Seq("version"))
        .select(col("id"), col("msg"), col("version"))
        .as[(Long, String, Long)].collect().toSeq.sorted
    val fa = fold(outA); val fb = fold(outB)
    assert(fa == fb, "folded snapshots diverge between one-shot and recovered runs")
    assert(fa == (0L to 4L).map(k => (k, "b3", 400 + k)) ++
      (5L to 9L).map(k => (k, "b2", 300 + k)),
      s"final snapshot wrong: $fa")
  }

  test("crash after the final batch's sink write but before its commit replays idempotently") {
    // the OTHER half of exactly-once: the WAL-replay test above crashes
    // BEFORE the sink write (nothing emitted, the restart recomputes);
    // here the query dies after batch 3's parquet landed but before the
    // micro-batch could commit, so the restart MUST re-run an
    // already-visible batch — the sink's overwrite-per-batch-id
    // discipline is what makes that replay invisible in the result.
    val log = Scratch.dir("log2"); fixture(log)

    val outA = Scratch.dir("outA2")
    drive(log, Scratch.dir("ckA2"), outA, bombAtBatch = None)
    val a = gens(outA)

    val outC = Scratch.dir("outC"); val ckC = Scratch.dir("ckC")
    drive(log, ckC, outC, bombAtBatch = None, bombAfterBatch = Some(3))
    assert(gens(outC).keySet == Set(0L, 1L, 2L, 3L),
      "batch 3's sink write must be visible even though its commit never landed")
    assert(TwsRecoverySpec.count(outC, 3) == 1)

    drive(log, ckC, outC, bombAtBatch = None) // restart from the SAME checkpoint
    // exactly the uncommitted batch replays: 3 ran twice, 0-2 once
    assert(TwsRecoverySpec.count(outC, 3) == 2,
      "the restart must re-run the uncommitted final batch")
    (0L to 2L).foreach(bid => assert(TwsRecoverySpec.count(outC, bid) == 1,
      s"committed batch $bid must NOT replay"))

    val c = gens(outC)
    assert(c.keySet == a.keySet)
    a.keySet.foreach { bid =>
      assert(c(bid) == a(bid),
        s"batch $bid diverged after end-of-stream recovery:\n one-shot=${a(bid)}\n replayed=${c(bid)}")
    }
    def fold(out: String) =
      operators.Ingest.latestWins(spark.read.parquet(s"$out/gen-*"),
          keys = Seq("id"), version = Seq("version"))
        .select(col("id"), col("msg"), col("version"))
        .as[(Long, String, Long)].collect().toSeq.sorted
    assert(fold(outC) == fold(outA),
      "folded snapshots diverge after the post-write crash replay")
  }
}

object TwsRecoverySpec {
  /** (out dir, batch id) → completed sink writes; foreachBatch runs on
    * the driver, and companion statics don't drag the spec instance
    * into the closure.
    */
  private val invocations =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()
  def bump(out: String, bid: Long): Unit =
    invocations.merge((out, bid), 1, (x, y) => x + y)
  def count(out: String, bid: Long): Int =
    Option(invocations.get((out, bid))).fold(0)(_.intValue())
}
