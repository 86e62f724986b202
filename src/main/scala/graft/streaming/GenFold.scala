package graft.streaming

import graft.sources.kafkalog.KafkaLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-safe GENERATION FOLD: maintain an on-disk derived table from a
  * stream, where each micro-batch merges its delta into the previous
  * generation and commits a new one — the durable form of stateful
  * maintenance whose state is an ordinary queryable table rather than a
  * state store.
  *
  * Protocol (extracted from the kafkalog snapshot fold, where it was
  * proven by `KafkaLogSourceSpec`'s crash-recovery tests):
  *  - each batch writes a NEW `gen-<batchId>` directory (Spark's
  *    committer drops `_SUCCESS` on completion); readers resolve the
  *    highest generation WITH the marker, so a crash mid-write leaves an
  *    uncommitted gen readers skip — some complete state is visible at
  *    every instant;
  *  - a batch REPLAYED after a crash that had already committed its gen
  *    is detected (the gen exists) and not re-folded — fold functions
  *    need not be idempotent, only deterministic per batch;
  *  - superseded generations are deleted only after the new one commits.
  *
  * Per-batch cost is |state| + |delta| — the scalable replacement for
  * re-deriving the table from full history each run (the reference's
  * whole-topic re-read, `KafkaContext.java:57-59`). At 100 TB of
  * history with GB-sized deltas and a bounded state table (|keys|,
  * |groups|), that asymmetry is the whole point.
  */
object GenFold {

  /** Batch ids of generations whose write committed (`_SUCCESS`). */
  def committedGens(out: String): Seq[Long] = {
    val f = KafkaLog.fs(out)
    val base = new Path(out)
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
      .filter(st => f.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("gen-").toLong)
      .sorted
  }

  /** The directory of the latest committed generation, if any. */
  def latestGen(out: String): Option[String] =
    committedGens(out).lastOption.map(g => s"$out/gen-$g")

  /** The latest COMMITTED state (empty frame with `schema` before the
    * first commit — or when every present gen is torn).
    */
  def read(s: SparkSession, out: String, schema: StructType): DataFrame =
    latestGen(out) match {
      case Some(gen) => s.read.schema(schema).json(gen)
      case None => s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Drain `src` (a streaming frame) into the generation-fold at `out`:
    * for each micro-batch, `merge(previousState, batch)` produces the
    * next full state, persisted as JSON lines. Blocks until the stream
    * is drained ([[StreamingIngest.drain]]).
    */
  def fold(src: DataFrame, out: String, ckpt: String, schema: StructType)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    StreamingIngest.drain(src) {
      _.option("checkpointLocation", ckpt).foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sess = batch.sparkSession
        if (!committedGens(out).contains(batchId)) {
          val prev = read(sess, out, schema)
          merge(prev, batch)
            .select(org.apache.spark.sql.functions.to_json(
              org.apache.spark.sql.functions.struct(
                schema.fieldNames.map(org.apache.spark.sql.functions.col): _*))
              .as("value"))
            .write.mode("overwrite").text(s"$out/gen-$batchId")
        }
        val f = KafkaLog.fs(out)
        committedGens(out).filter(_ < batchId).foreach { g =>
          f.delete(new Path(s"$out/gen-$g"), true)
        }
      }
    }
  }
}
