package graft

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming suite (SURVEY.md §5.4): MemoryStream → stateful
  * dedup → memory sink; late/duplicate arrival; windowed aggregation with
  * watermark. The streaming snapshot (`KafkaLogOps.foldSnapshot`) is
  * covered across restarts in `KafkaLogSourceSpec`.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("nearDupHits: invariant under id-monotonic batch cuts and intra-batch order") {
    import graft.operators.DedupOps
    import graft.streaming.StreamingIngest.{BandedDoc, DupHit}
    // band the corpus in BATCH mode with the registered query's exact
    // expressions, then replay the same rows through the stateful
    // operator under different cuts
    val sig = array((0 until 32).map { i =>
      val (a, b) = DedupOps.minhashCoef(i)
      array_min(transform(col("hs"),
        h => (lit(a) * h + lit(b)) % lit(DedupOps.MinhashP)))
    }: _*)
    val banded = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        transform(col("sh"), x => DedupOps.portableHash(x, 0)).as("hs"))
      .select(col("doc_id"), sig.as("mh"))
      .select(col("doc_id"), col("mh"),
        explode(DedupOps.lshBandKeys(col("mh"), 8, 4)).as("bk"))
      .select(col("bk"), col("doc_id"), col("mh"))
      .as[BandedDoc].collect().toSeq

    def run(batches: Seq[Seq[BandedDoc]], name: String): Seq[DupHit] = {
      val ms = MemoryStream[BandedDoc]
      spark.catalog.dropTempView(name)
      val q = StreamingIngest.nearDupHits(ms.toDS(), minAgree = 0.5)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[DupHit].collect().toSeq
        .sortBy(h => (h.doc_id, h.dup_of))
    }

    val one = run(Seq(banded), "nd_one")
    assert(one.nonEmpty, "fixture should contain near-dup docs")
    // 3 id-monotonic cuts, each batch internally shuffled
    val ids = banded.map(_.doc_id).distinct.sorted
    val cut = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val rnd = new scala.util.Random(13)
    val chunks = Seq(
      banded.filter(_.doc_id <= cut(0)),
      banded.filter(b => b.doc_id > cut(0) && b.doc_id <= cut(1)),
      banded.filter(_.doc_id > cut(1))).map(c => rnd.shuffle(c))
    assert(run(chunks, "nd_three") == one,
      "3-batch id-monotonic scrambled replay must equal the single-batch result")
  }

  test("latestWinsUpdates: cross-batch upsert emits only strictly newer versions") {
    val ms = MemoryStream[KeyedRecord]
    val q = StreamingIngest.latestWinsUpdates(ms.toDS())
      .writeStream.format("memory").queryName("lw_test").outputMode("update").start()
    try {
      ms.addData(KeyedRecord(1, "a", 10), KeyedRecord(2, "x", 5))
      q.processAllAvailable()
      ms.addData(KeyedRecord(1, "stale", 3))  // older version → no emit
      q.processAllAvailable()
      ms.addData(KeyedRecord(1, "b", 20), KeyedRecord(2, "x2", 6))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("lw_test").as[KeyedRecord].collect().sortBy(r => (r.id, r.version))
    assert(rows.toSeq == Seq(
      KeyedRecord(1, "a", 10), KeyedRecord(1, "b", 20),
      KeyedRecord(2, "x", 5), KeyedRecord(2, "x2", 6)))
    // final state per key = latest version
    val finalState = rows.groupBy(_.id).view.mapValues(_.maxBy(_.version).msg).toMap
    assert(finalState == Map(1L -> "b", 2L -> "x2"))
  }

  test("tombstone upsert: deletes clear keys, markers suppress late stragglers") {
    // a tombstone is stored as its key's latest record: that stored
    // marker is what suppresses the late straggler
    val ms = MemoryStream[KeyedRecord]
    val rows = StreamingIngest.drainTable(
        StreamingIngest.latestWinsUpdatesTws(ms.toDS()), "lwt_test", "update",
        flush = Seq[() => Unit](
          () => ms.addData(KeyedRecord(1, "a", 10), KeyedRecord(2, "x", 5)),
          () => ms.addData(KeyedRecord(1, null, 15)), // tombstone: key 1 deleted
          () => ms.addData(KeyedRecord(1, "late", 12)), // older than the marker → suppressed
          () => ms.addData(KeyedRecord(2, null, 7), KeyedRecord(2, "back", 9)))) // delete then re-insert
      .as[KeyedRecord].collect()
      .sortBy(r => (r.id, r.version))
    assert(rows.toSeq == Seq(
      KeyedRecord(1, "a", 10), KeyedRecord(1, null, 15),
      KeyedRecord(2, "x", 5), KeyedRecord(2, "back", 9)),
      s"update log mismatch: ${rows.toSeq}")
    // final snapshot: apply the log in version order, null msg deletes
    val finalState = rows.groupBy(_.id).view
      .mapValues(_.maxBy(_.version)).filter(_._2.msg != null).mapValues(_.msg).toMap
    assert(finalState == Map(2L -> "back"),
      "key 1 must stay deleted (late straggler suppressed by the marker); " +
        "key 2 must be re-inserted past its tombstone")
  }

  test("dedupWithinWatermark drops duplicate keys arriving within the horizon") {
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("id", "ts", "payload")
    val out = StreamingIngest.dedupWithinWatermark(df, "ts", "10 minutes", Seq("id"))
    val q = out.writeStream.format("memory").queryName("ddw_test").outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      ms.addData((1L, t(0), "first"), (1L, t(5), "dup-within"), (2L, t(1), "other"))
      q.processAllAvailable()
      ms.addData((1L, t(8), "dup-second-batch"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ddw_test").collect().map(r => (r.getLong(0), r.getString(2))).sorted
    assert(rows.toSeq == Seq((1L, "first"), (2L, "other")))
  }

  test("windowed aggregation with watermark: append emits closed windows, late data dropped") {
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = ms.toDF().toDF("ts", "event_type", "value")
    val out = StreamingIngest.windowedCounts(events, "ts", "5 minutes", "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_test").outputMode("append").start()
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$min%02d:00")
    try {
      ms.addData((t(10, 1), "click", 1.0), (t(10, 4), "click", 2.0))
      q.processAllAvailable()
      // advance watermark far past the first window → it closes
      ms.addData((t(11, 0), "view", 5.0))
      q.processAllAvailable()
      // late event for the closed 10:00 window → dropped
      ms.addData((t(10, 2), "click", 100.0))
      q.processAllAvailable()
      ms.addData((t(12, 0), "view", 1.0)) // close the 11:00 window too
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_test")
      .select(date_format(col("ws"), "HH:mm").as("w"), col("event_type"), col("n"), col("sv"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).sorted
    assert(rows.contains(("10:00", "click", 2L, 3.0))) // late 100.0 NOT included
    assert(rows.contains(("11:00", "view", 1L, 5.0)))
  }

  test("streaming session window: gap-merged sessions per user with watermark") {
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val df = ms.toDF().toDF("ts", "user_id")
    val out = df.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), date_format(col("w.start"), "HH:mm").as("start"), col("n"))
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // two bursts 40min apart -> two sessions; second burst merges 10:50+10:55
      ms.addData((t(10, 0), 1L), (t(10, 10), 1L), (t(10, 50), 1L), (t(10, 55), 1L))
      q.processAllAvailable()
      ms.addData((t(13, 0), 1L)) // advance watermark -> both sessions close
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_test")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((1L, "10:00", 2L), (1L, "10:50", 2L)))
  }

  test("custom sessionize: gap-close within batch, timeout-close via watermark") {
    import graft.streaming.StreamingIngest.{SessEvent, sessionize}
    val ms = MemoryStream[SessEvent]
    def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val q = sessionize(ms.toDS(), gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("custom_sess_test")
      .outputMode("append").start()
    try {
      // one batch holding TWO sessions for user 1 (gap 40min inside the
      // batch, emitted immediately) plus an open tail for user 2
      ms.addData(
        SessEvent(1L, t(10, 0), 1.0), SessEvent(1L, t(10, 10), 2.0),
        SessEvent(1L, t(10, 50), 4.0),
        SessEvent(2L, t(10, 55), 8.0))
      q.processAllAvailable()
      // advance watermark far ahead, then let timeouts fire
      ms.addData(SessEvent(9L, t(20, 0), 0.0))
      q.processAllAvailable()
      ms.addData(SessEvent(9L, t(21, 0), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("custom_sess_test")
      .where(col("user_id") < 9)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.substring(11, 16),
        r.getLong(2), r.getDouble(3))).sorted
    assert(rows.toSeq == Seq(
      (1L, "10:00", 2L, 3.0),  // closed by in-batch gap
      (1L, "10:50", 1L, 4.0),  // closed by timeout
      (2L, "10:55", 1L, 8.0))) // closed by timeout
  }

  test("stream-static join: streaming events enriched from a static dimension") {
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("user_id", "name")
    val ms = MemoryStream[(Long, Double)]
    val out = ms.toDF().toDF("user_id", "value").join(dim, Seq("user_id"), "left")
    val q = out.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      ms.addData((1L, 10.0), (3L, 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ss_join_test").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).sorted
    assert(rows.toSeq == Seq((1L, Some("alice")), (3L, None)))
  }

  test("stream-stream join: watermarked event-time range join across two streams") {
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Double)]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val c = clicks.toDF().toDF("cts", "user_id").withWatermark("cts", "10 minutes")
    val b = buys.toDF().toDF("bts", "buser", "amount").withWatermark("bts", "10 minutes")
    // purchase attributed to a click within the preceding 15 minutes
    val joined = c.join(b,
      col("user_id") === col("buser") &&
        col("bts") >= col("cts") && col("bts") <= col("cts") + expr("INTERVAL 15 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      clicks.addData((t(0), 1L), (t(30), 2L))
      buys.addData((t(10), 1L, 99.0))   // within 15m of user 1's click → match
      buys.addData((t(50), 2L, 42.0))   // 20m after user 2's click → no match
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_test")
      .select("user_id", "amount").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((1L, 99.0)))
  }

  test("stream-stream LEFT OUTER join emits null-padded rows once the watermark closes the window") {
    // Outer stream-stream semantics: an unmatched left row can only be
    // emitted (with nulls) after the watermark proves no match can
    // still arrive — the subtle contract distinguishing it from a batch
    // left join.
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long, Double)]
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val c = clicks.toDF().toDF("cts", "user_id").withWatermark("cts", "5 minutes")
    val b = buys.toDF().toDF("bts", "buser", "amount").withWatermark("bts", "5 minutes")
    val joined = c.join(b,
      col("user_id") === col("buser") &&
        col("bts") >= col("cts") && col("bts") <= col("cts") + expr("INTERVAL 15 MINUTES"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    try {
      clicks.addData((t(0), 1L), (t(0), 2L))
      buys.addData((t(10), 1L, 99.0)) // user 1 converts; user 2 never does
      q.processAllAvailable()
      // watermark far past user 2's click + join window → null row emits
      clicks.addData((t(59), 9L))
      buys.addData((t(59), 9L, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_outer")
      .select("user_id", "amount").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.contains((1L, Some(99.0))), "matched pair must emit")
    assert(rows.contains((2L, None)), s"unmatched click must emit null-padded after watermark: $rows")
  }

  test("restart from checkpoint: offsets AND upsert state survive (no reprocess, no downgrade)") {
    // The recovery contract a production ingest needs: stop the query,
    // restart from the same checkpoint with a file source, and (a) old
    // input is not reprocessed, (b) flatMapGroupsWithState state is
    // restored — a late LOWER version after restart must not re-emit.
    val srcDir = Scratch.dir("restart_src")
    val ckpt = Scratch.dir("restart_ckpt")
    val outDir = Scratch.dir("restart_out")
    val schema = "id LONG, msg STRING, version LONG"
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val f = new java.io.File(srcDir, name)
      val w = new java.io.PrintWriter(f)
      rows.foreach { case (i, m, v) =>
        w.println(s"""{"id":$i,"msg":"$m","version":$v}""")
      }
      w.close()
    }
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema).json(srcDir).as[KeyedRecord]
      val q = StreamingIngest.latestWinsUpdates(src)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[KeyedRecord], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeBatch("b1.json", Seq((1L, "a", 1L), (2L, "b", 2L)))
    runOnce()
    // restart: newer version for key 1 emits; stale version for key 2
    // must be suppressed BY RESTORED STATE (not by this run's input)
    writeBatch("b2.json", Seq((1L, "c", 5L), (2L, "stale", 1L)))
    runOnce()
    val emitted = spark.read.parquet(outDir).as[KeyedRecord].collect()
    assert(emitted.count(_ == KeyedRecord(2L, "b", 2L)) == 1,
      s"offset replay duplicated batch-1 output: ${emitted.toSeq}")
    assert(emitted.toSet == Set(
      KeyedRecord(1L, "a", 1L), KeyedRecord(2L, "b", 2L), KeyedRecord(1L, "c", 5L)),
      s"unexpected update log: ${emitted.toSeq}")
  }
}
