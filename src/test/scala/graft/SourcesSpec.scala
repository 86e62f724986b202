package graft

import graft.operators.Ingest
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Source-path parity: kafka-shaped end-to-end pipeline, JSON-lines
  * round-trip, CSV strict mode.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("kafkaShapedToSnapshot: global vs scoped dedup end-to-end (reference E2/E3 trace)") {
    val frame = Seq(
      // (key, value-json, partition, offset)
      ("k", """{"id":7,"msg":"v1"}""", 0, 1L),
      ("k", """{"id":7,"msg":"v2"}""", 0, 5L),  // same partition: overwrites
      ("k", """{"id":7,"msg":"p1"}""", 1, 2L),  // other partition, lower offset than 5
      ("k", "garbage", 0, 6L),                  // dropped
      ("k", "{}", 1, 3L)                        // defaults id=0 msg=""
    ).toDF("key", "value", "partition", "offset")
      .withColumn("value", col("value").cast("binary")) // kafka wire type

    val global = Sources.kafkaShapedToSnapshot(frame, scoped = false)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(global.toSeq == Seq((0L, ""), (7L, "v2")))

    val scoped = Sources.kafkaShapedToSnapshot(frame, scoped = true)
      .orderBy("id", "partition").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(scoped.toSeq == Seq((0L, "", 1), (7L, "v2", 0), (7L, "p1", 1)))
  }

  test("JSON-lines snapshot round-trip: write then read yields the same rows") {
    val dir = Scratch.dir("jsonl")
    val rows = Seq((1L, "a"), (2L, "b"), (3L, ""))
    Ingest.writeSnapshotJson(rows.toDF("id", "msg"), dir)
    val back = Sources.readJsonLines(spark, dir, Ingest.msgSchema)
      .as[(Long, String)].collect().sorted
    assert(back.toSeq == rows.sorted)
  }

  test("ORC round-trip preserves rows and pushes filters to the scan") {
    val dir = Scratch.dir("graft_orc")
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    Sources.writeOrc(ev, dir)
    val back = Sources.readOrc(spark, dir, ev.schema)
    assert(back.count() == ev.count())
    assert(back.except(ev).isEmpty && ev.except(back).isEmpty)
    val filtered = back.where(col("event_type") === "click").select("event_id")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      s"ORC scan must push the predicate:\n$scan")
  }

  test("schema evolution: mergeSchema unions columns across parquet writes") {
    // Schema drift is a fact of life for a long-lived 100 TB table:
    // later writers add columns; mergeSchema reads must surface the
    // union with nulls for the missing side.
    import org.apache.spark.sql.functions.lit
    val dir = Scratch.dir("evolve")
    Seq((1L, "a")).toDF("id", "msg").write.parquet(dir + "/w1")
    Seq((2L, "b", 9L)).toDF("id", "msg", "version").write.parquet(dir + "/w2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(dir + "/w1", dir + "/w2")
    assert(merged.columns.sorted.toSeq == Seq("id", "msg", "version"))
    val rows = merged.select("id", "msg", "version")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(9L))))
  }

  test("_metadata file columns attribute rows to their source files") {
    // Row provenance (which file did this row come from) without any
    // extra column in the data — the debugging/incremental-processing
    // hook at scale.
    val dir = Scratch.dir("meta") + "/t"
    Tables.t(spark, sf, "region").write.parquet(dir)
    val withMeta = spark.read.parquet(dir)
      .select(col("r_regionkey"), col("_metadata.file_name").as("fn"),
        col("_metadata.file_size").as("sz"))
    val rows = withMeta.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getString(1).endsWith(".parquet") && r.getLong(2) > 0))
  }

  test("CSV strict: explicit schema, malformed rows dropped") {
    val dir = Scratch.dir("csv")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "d.csv"),
      "id,msg\n1,hello\nnot-a-long,world\n3,ok\n")
    val got = Sources.readCsvStrict(spark, dir,
      org.apache.spark.sql.types.StructType(Ingest.msgSchema.fields))
      .as[(Long, String)].collect().sorted
    assert(got.toSeq == Seq((1L, "hello"), (3L, "ok")))
  }
}
