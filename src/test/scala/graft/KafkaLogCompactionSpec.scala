package graft

import graft.operators.Ingest
import graft.sources.kafkalog.{KafkaLog, KafkaLogCompaction}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Log compaction (KafkaLogCompaction — Kafka's cleaner semantics over a
  * kafkalog directory): survivor selection, offset preservation,
  * null-key retention, the dirty-ratio gate, appendability after
  * compaction, downstream latest-wins invariance, and crash recovery of
  * every interruptible point of the swap protocol.
  */
class KafkaLogCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def writeLog(dir: String, rows: (Int, Long, String)*): Unit =
    KafkaLog.write(rows.toDF("partition", "offset", "value"), dir)

  private def readLog(dir: String) =
    spark.read.format("kafkalog").load(dir).as[(Int, Long, String)]

  private def keyOf = get_json_object(col("value"), "$.k")

  private def rec(k: String, v: Int): String = s"""{"k":"$k","v":$v}"""

  test("compact keeps the highest-offset record per (partition, key), offsets preserved") {
    val dir = Scratch.dir("basic") + "/log"
    writeLog(dir,
      (0, 0L, rec("a", 1)), (0, 1L, rec("b", 1)), (0, 2L, rec("a", 2)),
      (0, 5L, rec("c", 1)), (0, 7L, rec("a", 3)),
      (1, 0L, rec("a", 9)), (1, 3L, rec("d", 1)))
    val report = KafkaLogCompaction.compact(spark, dir, keyOf)
    assert(readLog(dir).collect().toSet == Set(
      (0, 1L, rec("b", 1)), (0, 5L, rec("c", 1)), (0, 7L, rec("a", 3)),
      (1, 0L, rec("a", 9)), (1, 3L, rec("d", 1))))
    assert(report.map(r => r.partition -> (r.before, r.after, r.compacted)).toMap ==
      Map(0 -> (5L, 3L, true), 1 -> (2L, 2L, true)))
    // one visible c-segment per partition, named past any epoch segment rule
    KafkaLog.listPartitions(dir).foreach { case (_, segs) =>
      assert(segs.length == 1, s"expected one segment, got $segs")
      assert(new Path(segs.head).getName.matches("c\\d{20}"))
    }
  }

  test("null-key records are retained as-is") {
    val dir = Scratch.dir("nullkey") + "/log"
    writeLog(dir,
      (0, 0L, rec("a", 1)), (0, 1L, "not json"), (0, 2L, rec("a", 2)),
      (0, 3L, "{}"))
    KafkaLogCompaction.compact(spark, dir, keyOf)
    assert(readLog(dir).collect().toSet == Set(
      (0, 1L, "not json"), (0, 2L, rec("a", 2)), (0, 3L, "{}")))
  }

  test("tombstones: latest-record deletes drop the key; overtaken deletes do not") {
    val dir = Scratch.dir("tomb") + "/log"
    writeLog(dir,
      (0, 0L, rec("a", 1)),
      (0, 1L, rec("b", 1)),
      (0, 2L, """{"k":"a","del":1}"""), // latest for a → key vanishes
      (0, 3L, """{"k":"b","del":1}"""),
      (0, 4L, rec("b", 2)),             // overtakes b's tombstone
      (0, 5L, "not json"))              // keyless record: carried, deletes nothing
    val tomb = get_json_object(col("value"), "$.del").isNotNull
    val report = KafkaLogCompaction.compact(spark, dir, keyOf, tombstone = Some(tomb))
    assert(report.head.before == 6L && report.head.after == 2L,
      s"stats must count tombstoned keys out: ${report.head}")
    assert(readLog(dir).collect().toSet == Set(
      (0, 4L, rec("b", 2)), (0, 5L, "not json")),
      "compacted partition must hold exactly the live key and the keyless record")
    // replaying the compacted log through latest-wins sees only live keys
    val latest = Ingest.latestWins(
      readLog(dir).toDF("partition", "offset", "value")
        .withColumn("k", keyOf).where(col("k").isNotNull),
      keys = Seq("k"), version = Seq("offset"))
    assert(latest.select("k").as[String].collect().toSet == Set("b"))
  }

  test("tombstones off: the default predicate keeps plain cleaner behavior") {
    val dir = Scratch.dir("tomboff") + "/log"
    writeLog(dir,
      (0, 0L, rec("a", 1)), (0, 1L, """{"k":"a","del":1}"""))
    KafkaLogCompaction.compact(spark, dir, keyOf)
    // without the tombstone predicate the delete record is just a's
    // latest value — retained, not interpreted
    assert(readLog(dir).collect().toSet == Set((0, 1L, """{"k":"a","del":1}""")))
  }

  test("dirty-ratio gate skips clean partitions and re-compaction is a no-op scan") {
    val dir = Scratch.dir("dirty") + "/log"
    // p0: 4 records, 2 keys -> dirty 0.5; p1: all distinct -> dirty 0
    writeLog(dir,
      (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2)), (0, 2L, rec("b", 1)),
      (0, 3L, rec("a", 3)),
      (1, 0L, rec("x", 1)), (1, 1L, rec("y", 1)))
    val segsBefore = KafkaLog.listPartitions(dir).toMap
    val r1 = KafkaLogCompaction.compact(spark, dir, keyOf, minDirtyRatio = 0.3)
    assert(r1.find(_.partition == 0).exists(_.compacted))
    assert(!r1.find(_.partition == 1).exists(_.compacted))
    // p1's files untouched
    assert(KafkaLog.listPartitions(dir).toMap.apply(1) == segsBefore(1))
    // second pass: p0 is now clean too -> nothing compacts
    val r2 = KafkaLogCompaction.compact(spark, dir, keyOf, minDirtyRatio = 0.3)
    assert(r2.forall(!_.compacted))
  }

  test("latest-wins over the compacted log equals latest-wins over full history") {
    val dir = Scratch.dir("invariant") + "/log"
    val history = (0 until 200).map { i =>
      ((i % 3), (i / 3).toLong, rec(s"k${i % 17}", i))
    }
    writeLog(dir, history: _*)
    def fold(df: org.apache.spark.sql.DataFrame) =
      Ingest.latestWins(
          df.select(get_json_object(col("value"), "$.k").as("k"),
            col("value"), (col("offset") * 3 + col("partition")).as("version")),
          keys = Seq("k"), version = Seq("version"))
        .select("k", "value").as[(String, String)].collect().toMap
    val before = fold(readLog(dir).toDF())
    KafkaLogCompaction.compact(spark, dir, keyOf)
    val after = fold(readLog(dir).toDF())
    assert(after == before)
  }

  test("a compacted log accepts batch appends and offsets continue past the survivors") {
    val dir = Scratch.dir("append") + "/log"
    writeLog(dir, (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2)), (0, 2L, rec("b", 1)))
    KafkaLogCompaction.compact(spark, dir, keyOf)
    Seq((0, 0L, rec("a", 3)))
      .toDF("partition", "offset", "value")
      .write.format("kafkalog").mode("append").save(dir)
    // sink assigns the next offset after the compacted end (3), and the
    // segment names still sort in offset order (c... < e...)
    assert(readLog(dir).collect().toSet == Set(
      (0, 1L, rec("a", 2)), (0, 2L, rec("b", 1)), (0, 3L, rec("a", 3))))
    val segs = KafkaLog.listPartitions(dir).toMap.apply(0).map(new Path(_).getName)
    assert(segs == segs.sorted && segs.length == 2)
    // compact again: the appended record supersedes the survivor
    KafkaLogCompaction.compact(spark, dir, keyOf)
    assert(readLog(dir).collect().toSet == Set(
      (0, 2L, rec("b", 1)), (0, 3L, rec("a", 3))))
  }

  test("recover completes a swap that crashed after the manifest write") {
    val dir = Scratch.dir("crash1") + "/log"
    writeLog(dir, (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2)))
    // construct the post-step-2 state by hand: staged tmp + manifest,
    // old segments still visible
    val f = KafkaLog.fs(dir)
    val olds = KafkaLog.listPartitions(dir).toMap.apply(0).map(new Path(_).getName)
    val tmpSeg = new Path(s"$dir/p=0/.c00000000000000000002.tmp")
    val out = f.create(tmpSeg, true)
    out.write(("1\t" + java.util.Base64.getEncoder.encodeToString(
      rec("a", 2).getBytes(StandardCharsets.UTF_8)) + "\n")
      .getBytes(StandardCharsets.UTF_8))
    out.close()
    val mf = f.create(new Path(s"$dir/p=0/_compact"), true)
    mf.write(((tmpSeg.getName +: "c00000000000000000002" +: olds).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    mf.close()
    KafkaLogCompaction.recover(dir)
    assert(readLog(dir).collect().toSet == Set((0, 1L, rec("a", 2))))
    assert(!f.exists(new Path(s"$dir/p=0/_compact")))
  }

  test("recover completes a swap that crashed between rename and manifest delete") {
    val dir = Scratch.dir("crash2") + "/log"
    writeLog(dir, (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2)))
    val f = KafkaLog.fs(dir)
    val olds = KafkaLog.listPartitions(dir).toMap.apply(0).map(new Path(_).getName)
    // final segment already in place, one old straggler left, manifest present
    val fin = f.create(new Path(s"$dir/p=0/c00000000000000000002"), true)
    fin.write(("1\t" + java.util.Base64.getEncoder.encodeToString(
      rec("a", 2).getBytes(StandardCharsets.UTF_8)) + "\n")
      .getBytes(StandardCharsets.UTF_8))
    fin.close()
    val mf = f.create(new Path(s"$dir/p=0/_compact"), true)
    mf.write(((".c00000000000000000002.tmp" +: "c00000000000000000002" +: olds)
      .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    mf.close()
    KafkaLogCompaction.recover(dir)
    assert(readLog(dir).collect().toSet == Set((0, 1L, rec("a", 2))))
    assert(!f.exists(new Path(s"$dir/p=0/_compact")))
  }

  test("recover discards a torn manifest and leaves the uncompacted log intact") {
    val dir = Scratch.dir("crash3") + "/log"
    writeLog(dir, (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2)))
    val f = KafkaLog.fs(dir)
    val mf = f.create(new Path(s"$dir/p=0/_compact"), true)
    mf.write("garbage".getBytes(StandardCharsets.UTF_8))
    mf.close()
    KafkaLogCompaction.recover(dir)
    // nothing lost, manifest gone, full history still readable
    assert(readLog(dir).collect().toSet == Set(
      (0, 0L, rec("a", 1)), (0, 1L, rec("a", 2))))
    assert(!f.exists(new Path(s"$dir/p=0/_compact")))
  }

  private def appendBatch(dir: String, rows: (Int, Long, String)*): Unit =
    rows.toDF("partition", "offset", "value")
      .write.format("kafkalog").mode("append").save(dir)

  test("streaming from earliest after retention starts at the new head") {
    val dir = Scratch.dir("retention_stream") + "/log"
    appendBatch(dir, (0, 0L, "r0"), (0, 1L, "r1"))
    appendBatch(dir, (0, 0L, "r2"), (0, 1L, "r3"))
    // retention: the head segment (offsets 0-1) is deleted whole
    val head = KafkaLog.listPartitions(dir).toMap.apply(0).head
    assert(KafkaLog.fs(dir).delete(new Path(head), false))
    spark.catalog.dropTempView("retention_sink")
    val q = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 1)
      .load(dir)
      .writeStream.format("memory").queryName("retention_sink").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("retention_sink").as[(Int, Long, String)]
      .collect().toSet == Set((0, 2L, "r2"), (0, 3L, "r3")))
  }

  test("streaming replay from a compacted log yields the same latest-wins state") {
    val dir = Scratch.dir("stream") + "/log"
    writeLog(dir,
      (0, 0L, """{"id":1,"msg":"m1"}"""), (0, 1L, """{"id":2,"msg":"m2"}"""),
      (0, 2L, """{"id":1,"msg":"m3"}"""), (1, 0L, """{"id":3,"msg":"m4"}"""))
    KafkaLogCompaction.compact(spark, dir)
    // gaps from compaction are legal for the streaming source
    spark.catalog.dropTempView("compact_stream_sink")
    val q = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", 2)
      .load(dir)
      .writeStream.format("memory").queryName("compact_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("compact_stream_sink")
      .select(get_json_object(col("value"), "$.id").cast("long"),
        get_json_object(col("value"), "$.msg"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((2L, "m2"), (1L, "m3"), (3L, "m4")))
  }
}
