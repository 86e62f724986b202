package graft

import graft.operators.Ingest
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.GraftParquet

/** Runnable job driver — the Spark form of the reference CLI
  * (`HadoopKafkaConsumer.java:105-203`: options `-o/-t/-g/-b/-p`,
  * delete-output-then-run, `ToolRunner`).
  *
  * A user of the reference job switches to:
  * {{{
  *   spark-submit --class graft.IngestJob engine.jar \
  *     --input <dir-of-kafka-shaped-parquet | json-lines dir> \
  *     --format kafka-parquet|jsonl \
  *     --output <snapshot dir> \
  *     [--scoped]            // reference per-(partition,id) dedup scope
  *     [--limit N]           // reference kafka.limit record cap
  * }}}
  * (With a Kafka cluster and the external connector jar, swap the input
  * for `Sources.kafkaBatch(spark, brokers, topic)` — same pipeline.)
  *
  * Semantics per SURVEY §2A: lenient fixed-schema JSON parse, latest-wins
  * dedup by offset, JSON-lines snapshot that replaces the previous one.
  *
  * One pass: the job is a single Spark write that parses each record
  * once ([[Ingest.parseTagged]]: one expression in whole-stage generated
  * code — a byte scanner and a Jackson kernel, with `from_json`'s
  * evaluator for the records they decline) and reports its counts from that write
  * ([[Report]]) — there is no trailing `count()`. The kafka-parquet scan
  * is planned from one footer read on the driver
  * ([[org.apache.spark.sql.graftinternal.GraftParquet.footerSchema]]),
  * not by schema inference's own Spark job, so a run starts two Spark
  * jobs: the write's two adaptive stages. The snapshot is published
  * atomically ([[Ingest.writeSnapshotJson]]): a failed run leaves the
  * previous snapshot in place.
  */
object IngestJob {

  case class Args(
      input: String = "", format: String = "kafka-parquet", output: String = "",
      scoped: Boolean = false, limit: Long = -1L)

  def parseArgs(argv: Array[String]): Args = {
    def loop(rest: List[String], a: Args): Args = rest match {
      case "--input" :: v :: t => loop(t, a.copy(input = v))
      case "--format" :: v :: t => loop(t, a.copy(format = v))
      case "--output" :: v :: t => loop(t, a.copy(output = v))
      case "--scoped" :: t => loop(t, a.copy(scoped = true))
      case "--limit" :: v :: t => loop(t, a.copy(limit = v.toLong))
      case Nil => a
      case x :: _ => throw new IllegalArgumentException(s"unknown option: $x")
    }
    val a = loop(argv.toList, Args())
    require(a.input.nonEmpty && a.output.nonEmpty, "--input and --output are required")
    a
  }

  /** What one run did, counted in the run's own write (no second job).
    * `recordsIn` and `recordsCorrupt` count the scanned records (after
    * `--limit`) and the malformed ones among them; `keysOut` is the rows
    * written. The offsets span every scanned record, malformed included;
    * they are `None` when nothing was scanned.
    */
  case class Report(recordsIn: Long, recordsCorrupt: Long, keysOut: Long,
      offsetMin: Option[Long], offsetMax: Option[Long]) {
    def line(output: String): String =
      s"[ingest] read $recordsIn records ($recordsCorrupt corrupt), wrote $keysOut keys to $output; " +
        s"offsets ${offsetMin.fold("-")(_.toString)}..${offsetMax.fold("-")(_.toString)}"
  }

  /** The job body, session-injected for tests: one Spark write. Its
    * counters ride that write as `Dataset.observe` metrics — on the
    * tagged records before the malformed ones are dropped, and on the
    * snapshot rows — so nothing is scanned, parsed or shuffled twice.
    */
  def report(spark: SparkSession, a: Args): Report = {
    val raw: DataFrame = a.format match {
      case "kafka-parquet" =>
        // the schema inference would give, from one footer read here: no
        // Spark job just to plan the scan
        GraftParquet.footerSchema(spark, a.input)
          .fold(spark.read.parquet(a.input))(spark.read.schema(_).parquet(a.input))
      case "jsonl" =>
        // JSON lines with no envelope: synthesize partition 0, offset =
        // input order is NOT available from a plain file → use a stable
        // surrogate (hash) so reruns are deterministic.
        spark.read.text(a.input)
          .select(lit(0).as("partition"), xxhash64(col("value")).as("offset"), col("value"))
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
    // reference kafka.limit: cap records scanned (KafkaInputFormat.java:188).
    // Dataset.limit takes an Int; a larger --limit would overflow toInt
    // silently (negative cap) — reject it explicitly instead.
    require(a.limit <= Int.MaxValue,
      s"--limit ${a.limit} exceeds the supported cap of ${Int.MaxValue}")
    val capped = if (a.limit > 0) raw.limit(a.limit.toInt) else raw
    val scanned = Observation()
    val written = Observation()
    val snapshot = Sources.kafkaShapedToSnapshot(capped, scoped = a.scoped,
      observeTagged = _.observe(scanned,
        count(lit(1)).as("records_in"),
        count_if(!col(Ingest.ParsedOk)).as("records_corrupt"),
        min("offset").as("offset_min"),
        max("offset").as("offset_max")))
      .observe(written, count(lit(1)).as("keys_out"))
    Ingest.writeSnapshotJson(snapshot, a.output)
    val in = scanned.get
    def offset(name: String) = Option(in(name)).map(_.asInstanceOf[Long])
    Report(
      recordsIn = in("records_in").asInstanceOf[Long],
      recordsCorrupt = in("records_corrupt").asInstanceOf[Long],
      keysOut = written.get("keys_out").asInstanceOf[Long],
      offsetMin = offset("offset_min"),
      offsetMax = offset("offset_max"))
  }

  /** The number of keys written — [[report]]'s `keysOut`. */
  def run(spark: SparkSession, a: Args): Long = report(spark, a).keysOut

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = GraftSession("graft-ingest")
    try println(report(spark, a).line(a.output))
    finally spark.stop()
  }
}
