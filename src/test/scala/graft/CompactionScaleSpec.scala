package graft

import graft.sources.kafkalog.{KafkaLog, KafkaLogCompaction}
import org.apache.spark.sql.functions._

/** Scale gate for kafkalog compaction: a 1M-record / 100k-key log (10×
  * update factor, 8 partitions) compacts correctly and in bounded time.
  * The cleaner's cost model — one stats aggregate + one survivor
  * aggregate + one rewrite of |keys| rows — is what makes compaction
  * viable at topic scale; this pins it at a size where an accidental
  * per-key loop or driver materialization would be minutes, not
  * seconds. Measured numbers print as one `[compact-scale]` line and
  * are recorded in SCALE.md.
  */
class CompactionScaleSpec extends SparkSpec {
  import spark.implicits._

  test("1M-record / 100k-key log compacts to exactly the per-key maxima, in bounded time") {
    val dir = Scratch.dir("kafkalog_compact_scale") + "/log"
    val keys = 100000L
    val records = 1000000L
    // key of record i cycles 0..keys-1; partition = key % 8 (keyed
    // producer), per-partition offsets assigned by arrival order i/8
    spark.range(records)
      .select(
        (col("id") % keys).as("k"),
        col("id"))
      .select(
        (col("k") % 8).cast("int").as("partition"),
        expr("id div 8").as("offset"),
        concat(lit("""{"k":"""), col("k"), lit(""","v":"""), col("id"), lit("}"))
          .as("value"))
      .createOrReplaceTempView("compact_scale_src")
    // one segment per partition via the fixture writer
    KafkaLog.write(spark.table("compact_scale_src"), dir)

    val t0 = System.nanoTime()
    val report = KafkaLogCompaction.compact(spark, dir,
      get_json_object(col("value"), "$.k"))
    val secs = (System.nanoTime() - t0) / 1e9

    assert(report.map(_.before).sum == records)
    assert(report.map(_.after).sum == keys)
    // survivors are exactly the per-key maximum payloads: v = the last
    // i with i % keys == k, i.e. k + keys * 9
    val survivors = spark.read.format("kafkalog").load(dir)
      .select(
        get_json_object(col("value"), "$.k").cast("long").as("k"),
        get_json_object(col("value"), "$.v").cast("long").as("v"))
    assert(survivors.count() == keys)
    val wrong = survivors.where(col("v") =!= col("k") + keys * 9L).count()
    assert(wrong == 0, s"$wrong survivors are not the per-key maximum")
    println(f"[compact-scale] records=$records keys=$keys compact_s=$secs%.1f " +
      f"dirty=${report.map(r => f"${r.dirtyRatio}%.2f").mkString(",")}")
    // bounded time: generous ceiling — catches accidental quadratic or
    // driver-side per-key behavior, not machine noise
    assert(secs < 120, s"compaction took $secs s on 1M records")
  }
}
