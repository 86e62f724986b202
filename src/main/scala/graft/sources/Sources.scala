package graft.sources

import graft.operators.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source surface (SURVEY.md §2A #1-5): Kafka wiring, the kafka-shaped
  * snapshot pipeline with the reference's lenient-JSON semantics, and
  * the parquet-backed streaming sources.
  */
object Sources {

  /** Kafka batch source wiring — the Spark-native form of the
    * reference's whole-topic re-read (`KafkaContext.java:57-59`
    * `seekToBeginning` ≡ `startingOffsets=earliest`,
    * `KafkaInputFormat.java:40-44` one-task-per-partition is built into
    * Spark's Kafka source; the `FetchThread` prefetch pipeline,
    * `KafkaContext.java:124-156`, is `KafkaDataConsumer`'s job).
    *
    * NOTE: requires the external `spark-sql-kafka-0-10` connector jar on
    * the classpath (not shipped in this offline environment, so this
    * wiring is exercised in production deployments only; everything
    * downstream of the source frame is covered by tests via
    * kafka-SHAPED frames — see [[kafkaShapedToSnapshot]]).
    */
  def kafkaBatch(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.read.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .load()

  /** Streaming flavor; `maxOffsetsPerTrigger` is the principled form of
    * the reference's `kafka.limit` record cap (`KafkaInputFormat.java:131`).
    */
  def kafkaStream(spark: SparkSession, brokers: String, topic: String,
      maxOffsetsPerTrigger: Long = -1L): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    (if (maxOffsetsPerTrigger > 0)
       r.option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
     else r).load()
  }

  /** The full reference pipeline from a kafka-shaped frame
    * (`key, value, partition, offset` — exactly what the Kafka source
    * yields) to the deduped snapshot rows. `scoped=true` reproduces the
    * reference's per-partition dedup (`KafkaContext.java:103`);
    * `false` is the principled global dedup.
    *
    * One parse per record ([[Ingest.parseTagged]]: the byte-level
    * kernel, and `from_json` only for the records it declines).
    * `observeTagged`
    * sees every tagged record — `partition`, `offset`, `value`,
    * [[Ingest.ParsedOk]] — before malformed ones are dropped; `IngestJob`
    * hangs its `Dataset.observe` counters there.
    */
  def kafkaShapedToSnapshot(df: DataFrame, scoped: Boolean,
      observeTagged: DataFrame => DataFrame = identity): DataFrame = {
    val tagged = Ingest.parseTagged(
      df.select(col("partition"), col("offset"),
        col("value").cast("string").as("value")), // byte[]→UTF-8, the intent
      // of KafkaContext.java:107 (whose String.valueOf(byte[]) is a bug)
      jsonCol = "value",
      schema = Ingest.msgSchema)
    val parsed = Ingest.keepParsed(observeTagged(tagged), jsonCol = "value",
      schema = Ingest.msgSchema, defaults = Map("id" -> lit(0L), "msg" -> lit("")))
    val keys = if (scoped) Seq("partition", "id") else Seq("id")
    Ingest.latestWins(parsed, keys, version = Seq("offset"))
      .select((Seq(col("id"), col("msg")) ++
        (if (scoped) Seq(col("partition")) else Nil)): _*)
  }

  /** Streaming view of the `events` testdata table: a file-source
    * `readStream` over the SAME parquet the batch path reads, with the
    * same schema-adaptive `ts`/`ts_ns` normalization as [[graft.Tables.t]]
    * ([[graft.Tables.normalizeEvents]]). This is
    * how the streaming differential queries ingest without ever
    * materializing the source on the driver (a `.collect()` +
    * MemoryStream replay caps out at driver memory; a file stream scales
    * with the executor count). Schema comes from one batch footer read —
    * file streams require an explicit schema.
    *
    * SENTINEL-UNION PATTERN (round 6 — no registered query collects a
    * source table anymore): differentials that must force watermark
    * advancement (append-mode windows, event-time timeouts) union this
    * bulk file stream with a TINY driver-side MemoryStream that carries
    * only the watermark-advancing sentinel rows — Spark supports
    * unioning streaming sources, each keeping its own offsets. The bulk
    * data rides the file source through the executors; the driver
    * contributes exactly the 1-2 sentinel rows the closing protocol
    * needs (see `streaming_sessionize` / `streaming_windowed_counts`).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeEvents(
      spark.readStream.schema(raw)
        // glob (not the bare file path): FileStreamSource derives the
        // partition-inference basePath by stripping glob characters, and a
        // literal file path would make basePath the file itself (rejected —
        // "must be a directory")
        .parquet(s"$dir/events*.parquet"))
  }

  /** File-source stream over the documents table (same glob rationale
    * as [[eventsStream]]) — executors read the parquet directly, the
    * driver materializes nothing.
    */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(raw).parquet(s"$dir/documents*.parquet")
  }
}
