package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The kafkalog streaming SINK: producer-style offset assignment,
  * epoch-keyed exactly-once commit, append across epochs, restart-replay
  * idempotence, and a full stream→transform→stream pipeline whose output
  * log is re-read by the kafkalog SOURCE and checked against a batch
  * oracle — the duplex story.
  */
class KafkaLogSinkSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def readLog(dir: String) =
    spark.read.format("kafkalog").load(dir).as[(Int, Long, String)]

  test("sink assigns contiguous per-partition offsets in input-offset order") {
    val dir = Scratch.dir("assign") + "/log"
    val ms = MemoryStream[(Int, Long, String)]
    val q = ms.toDF().toDF("partition", "offset", "value")
      .writeStream.format("kafkalog")
      .option("path", dir)
      .option("checkpointLocation", dir + ".ck")
      .start()
    try {
      // caller offsets are sparse HINTS (7, 5, 9...); the log must
      // reassign dense offsets from 0 in hint order per partition
      ms.addData((0, 7L, "a"), (0, 5L, "b"), (1, 9L, "x"), (0, 6L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = readLog(dir).collect().toSet
    assert(got == Set((0, 0L, "b"), (0, 1L, "c"), (0, 2L, "a"), (1, 0L, "x")),
      s"got $got")
  }

  test("epochs append: each batch's segment continues the partition's offsets") {
    val dir = Scratch.dir("append") + "/log"
    val ms = MemoryStream[(Int, Long, String)]
    val q = ms.toDF().toDF("partition", "offset", "value")
      .writeStream.format("kafkalog")
      .option("path", dir)
      .option("checkpointLocation", dir + ".ck")
      .start()
    try {
      ms.addData((0, 0L, "m0"), (0, 1L, "m1")); q.processAllAvailable()
      ms.addData((0, 0L, "m2"), (1, 0L, "n0")); q.processAllAvailable()
      ms.addData((0, 0L, "m3")); q.processAllAvailable()
    } finally q.stop()
    assert(readLog(dir).collect().toSet == Set(
      (0, 0L, "m0"), (0, 1L, "m1"), (0, 2L, "m2"), (0, 3L, "m3"), (1, 0L, "n0")))
    // one visible segment per (partition, epoch) that carried rows
    val p0segs = new java.io.File(dir + "/p=0").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted
    assert(p0segs.length == 3 && p0segs.forall(_.startsWith("e")),
      s"expected 3 epoch segments, got ${p0segs.mkString(",")}")
  }

  test("restart replays the last epoch without duplicating it (exactly-once)") {
    val dir = Scratch.dir("replay") + "/log"
    val ck = dir + ".ck"
    def writeBatch(data: Seq[(Int, Long, String)]): Unit = {
      val ms = MemoryStream[(Int, Long, String)]
      val q = ms.toDF().toDF("partition", "offset", "value")
        .writeStream.format("kafkalog")
        .option("path", dir).option("checkpointLocation", ck)
        .start()
      try { ms.addData(data: _*); q.processAllAvailable() } finally q.stop()
    }
    writeBatch(Seq((0, 0L, "a"), (0, 1L, "b")))
    val after1 = readLog(dir).collect().toSet
    // a NEW query on the same checkpoint: memory sources restart from
    // scratch, so the same rows replay as epoch 0 — the committed
    // segment must absorb the replay, not duplicate
    writeBatch(Seq((0, 0L, "a"), (0, 1L, "b")))
    assert(readLog(dir).collect().toSet == after1,
      "replayed epoch must be idempotent")
  }

  test("batch INSERT INTO appends segments that interleave with streaming epochs") {
    val dir = Scratch.dir("insert") + "/log"
    // epoch 0 via the streaming sink
    val ms = MemoryStream[(Int, Long, String)]
    val q = ms.toDF().toDF("partition", "offset", "value")
      .writeStream.format("kafkalog")
      .option("path", dir).option("checkpointLocation", dir + ".ck")
      .start()
    try { ms.addData((0, 0L, "s0"), (0, 1L, "s1")); q.processAllAvailable() }
    finally q.stop()
    // batch append via SQL INSERT on a kafkalog catalog table
    spark.sql("DROP TABLE IF EXISTS klog_sink_t")
    spark.sql(s"CREATE TABLE klog_sink_t USING kafkalog OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO klog_sink_t VALUES (0, 0, 'b0'), (1, 0, 'b1')")
      // and via the DataFrame writer
      Seq((0, 0L, "b2")).toDF("partition", "offset", "value")
        .write.format("kafkalog").mode("append").save(dir)
      val got = readLog(dir).collect().toSet
      assert(got == Set((0, 0L, "s0"), (0, 1L, "s1"), (0, 2L, "b0"),
        (0, 3L, "b2"), (1, 0L, "b1")), s"got $got")
      // segment names must still be in offset order per partition
      val p0 = new java.io.File(dir + "/p=0").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".")).map(_.getName).sorted
      assert(p0.length == 3, s"expected 3 p=0 segments, got ${p0.mkString(",")}")
    } finally spark.sql("DROP TABLE IF EXISTS klog_sink_t")
  }

  test("duplex pipeline: kafkalog -> latest-wins -> kafkalog matches the batch oracle") {
    val in = Scratch.dir("duplex_in") + "/log"
    val out = Scratch.dir("duplex_out") + "/log"
    // input topic: keyed JSON updates with growing versions, 2 partitions
    val rows = for (i <- 0 until 60)
      yield (i % 2, i.toLong / 2, s"""{"id":${i % 7},"msg":"m$i"}""")
    graft.sources.kafkalog.KafkaLog.write(
      rows.toDF("partition", "offset", "value"), in)
    // stream: parse, latest-wins upsert, re-emit as a keyed update topic
    // (id hashes to the output partition; version orders within epoch)
    val src = spark.readStream.format("kafkalog")
      .option("maxOffsetsPerTrigger", "20").load(in)
    val updates = StreamingIngest.latestWinsUpdatesTws(
      StreamingIngest.parseKafkaShaped(src)
        .as[StreamingIngest.KeyedRecord])
    StreamingIngest.drain(updates
      .select((col("id") % 2).cast("int").as("partition"),
        col("version").as("offset"),
        to_json(struct(col("id"), col("msg"), col("version"))).as("value"))) {
      _.format("kafkalog").option("path", out).option("checkpointLocation", out + ".ck")
    }
    // the OUTPUT topic replayed through latest-wins equals the batch
    // latest-wins over the original input (same contract the
    // streaming_kafkalog_upsert differential pins, now THROUGH the sink)
    val replayed = graft.operators.Ingest.latestWins(
      spark.read.format("kafkalog").load(out)
        .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(
          "id BIGINT, msg STRING, version BIGINT")).as("r"))
        .select(col("r.id"), col("r.msg"), col("r.version")),
      keys = Seq("id"), version = Seq("version"))
      .as[(Long, String, Long)].collect().toSet
    val oracle = graft.operators.Ingest.latestWins(
      StreamingIngest.parseKafkaShaped(
        spark.read.format("kafkalog").load(in)),
      keys = Seq("id"), version = Seq("version"))
      .as[(Long, String, Long)].collect().toSet
    assert(replayed == oracle, s"duplex replay diverges: $replayed vs $oracle")
    // and the output log is a valid, ordered kafkalog (readable, dense)
    val outRows = readLog(out).collect()
    outRows.groupBy(_._1).foreach { case (_, rs) =>
      val offs = rs.map(_._2).sorted
      assert(offs.zipWithIndex.forall { case (o, i) => o == i.toLong },
        "sink offsets must be dense from 0 per partition")
    }
  }
}
