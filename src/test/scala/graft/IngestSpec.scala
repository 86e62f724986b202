package graft

import graft.operators.Ingest
import graft.sources.Sources
import graft.streaming.StreamingIngest
import graft.functions.FlatJsonParse
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs}
import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Reference-parity edge-case corpus (FIXTURES.md §A) + property tests
  * (SURVEY.md §5.3, seeded-random inputs) for the lenient parse and
  * latest-wins dedup.
  */
class IngestSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def src(rows: (Int, Long, String)*) =
    rows.toSeq.toDF("partition", "offset", "value")

  private def parsed(rows: (Int, Long, String)*) =
    Ingest.parseLenient(src(rows: _*), "value", Ingest.msgSchema,
      Map("id" -> lit(0L), "msg" -> lit("")))

  test("latest wins: higher offset overwrites (HadoopKafkaConsumer.java:71-74)") {
    val out = Ingest.latestWins(
      parsed((0, 1, """{"id":7,"msg":"a"}"""), (0, 5, """{"id":7,"msg":"b"}""")),
      keys = Seq("id"), version = Seq("offset"))
    assert(out.select("msg").as[String].collect().toSeq == Seq("b"))
  }

  test("out-of-order arrival: offset compare, not arrival order") {
    val out = Ingest.latestWins(
      parsed((0, 5, """{"id":7,"msg":"b"}"""), (0, 1, """{"id":7,"msg":"a"}""")),
      keys = Seq("id"), version = Seq("offset"))
    assert(out.select("msg").as[String].collect().toSeq == Seq("b"))
  }

  test("distinct ids pass through (:79-82)") {
    val out = Ingest.latestWins(
      parsed((0, 1, """{"id":1,"msg":"x"}"""), (0, 2, """{"id":2,"msg":"y"}""")),
      keys = Seq("id"), version = Seq("offset"))
    assert(out.count() == 2)
  }

  test("malformed JSON skipped, job continues (:87-89)") {
    val out = parsed((0, 1, "not-json"), (0, 2, """{"id":3,"msg":"ok"}"""))
    assert(out.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("null/absent fields default to id=0, msg='' (MyKafkaMessage.java:9-12)") {
    val out = parsed((0, 1, "{}")).select("id", "msg").collect()
    assert(out.toSeq == Seq(Row(0L, "")))
  }

  test("cross-partition same id: scoped keeps both, global keeps max offset (KafkaContext.java:103)") {
    val in = parsed((0, 1, """{"id":7,"msg":"p0"}"""), (1, 9, """{"id":7,"msg":"p1"}"""))
    val scoped = Ingest.latestWins(in, keys = Seq("partition", "id"), version = Seq("offset"))
    val global = Ingest.latestWins(in, keys = Seq("id"), version = Seq("offset"))
    assert(scoped.count() == 2)
    assert(global.select("msg").as[String].collect().toSeq == Seq("p1"))
  }

  test("empty input: empty output, success (KafkaContext.java:146-150)") {
    val out = Ingest.latestWins(
      parsed(), keys = Seq("id"), version = Seq("offset"))
    assert(out.count() == 0)
  }

  test("snapshot sink overwrites pre-existing output (HadoopKafkaConsumer.java:139-147)") {
    val dir = Scratch.dir("snap")
    Ingest.writeSnapshotJson(Seq((1L, "old")).toDF("id", "msg"), dir)
    Ingest.writeSnapshotJson(Seq((2L, "new")).toDF("id", "msg"), dir)
    val lines = spark.read.text(dir).as[String].collect()
    assert(lines.toSeq == Seq("""{"id":2,"msg":"new"}"""))
  }

  test("snapshot publish is atomic: a write that fails mid-task keeps the previous snapshot byte-identical") {
    val parent = java.nio.file.Paths.get(Scratch.dir("snap_atomic"))
    val dir = parent.resolve("snapshot")
    Ingest.writeSnapshotJson(Seq((1L, "old"), (2L, "kept")).toDF("id", "msg"), dir.toString)
    def contents(): Map[String, Seq[Byte]] = {
      val files = java.nio.file.Files.list(dir)
      try files.iterator().asScala.map(f =>
        f.getFileName.toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
      finally files.close()
    }
    val before = contents()
    assert(before.keys.exists(_.startsWith("part-")))
    // the planted row fails its task after other rows were written
    val failing = spark.range(0, 400, 1, 4).select(col("id"),
      when(col("id") === 333L, raise_error(lit("planted write failure")))
        .otherwise(lit("new")).as("msg"))
    val e = intercept[Exception](Ingest.writeSnapshotJson(failing, dir.toString))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted write failure")))
    assert(contents() == before, "the previous snapshot must survive a failed write")
    val siblings = {
      val l = java.nio.file.Files.list(parent)
      try l.iterator().asScala.map(_.getFileName.toString).toList finally l.close()
    }
    assert(siblings == List("snapshot"), s"no temp or old directory may be left: $siblings")
    // and a good write still replaces it
    Ingest.writeSnapshotJson(Seq((3L, "next")).toDF("id", "msg"), dir.toString)
    assert(spark.read.text(dir.toString).as[String].collect().toSeq == Seq("""{"id":3,"msg":"next"}"""))
  }

  test("plan shape: every lenient and DLQ parse path is one compiled parse per record") {
    def nodes(df: org.apache.spark.sql.DataFrame)(pick: PartialFunction[Expression, Expression]): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect(pick).size).sum
      }.sum
    def jsonParses(df: org.apache.spark.sql.DataFrame): Int = nodes(df) { case j: JsonToStructs => j }
    def parses(df: org.apache.spark.sql.DataFrame): Int =
      nodes(df) { case k: FlatJsonParse if k.exact.isDefined => k }
    // a computed frame, not a local Seq: the optimizer would evaluate a
    // projection over local rows at plan time and leave no parse to count
    val id = col("id")
    val frame = spark.range(0, 2).select(id.cast("int").as("partition"), (id + 1).as("offset"),
      when(id === 0, lit("""{"id":7,"msg":"a"}""")).otherwise(lit("broken")).as("value"))
    val kafka = frame.withColumn("value", col("value").cast("binary"))
    val paths = Seq(
      "kafkaShapedToSnapshot global" -> Sources.kafkaShapedToSnapshot(kafka, scoped = false),
      "kafkaShapedToSnapshot scoped" -> Sources.kafkaShapedToSnapshot(kafka, scoped = true),
      "parseKafkaShaped (batch)" -> StreamingIngest.parseKafkaShaped(frame),
      "parseLenient" -> Ingest.parseLenient(frame, "value", Ingest.msgSchema,
        Map("id" -> lit(0L), "msg" -> lit(""))),
      "parseWithDlq" -> Ingest.parseWithDlq(frame, "value", Ingest.msgSchema))
    for ((name, df) <- paths) {
      assert(jsonParses(df) == 0, s"$name: from_json is a CodegenFallback outside the parse")
      assert(parses(df) == 1, name)
    }
    // the parse's Generate runs in whole-stage generated code: it sits
    // in a codegen stage's own subtree, not under one of its inputs
    def fused(p: SparkPlan): Seq[GenerateExec] = p match {
      case _: InputAdapter => Nil
      case g: GenerateExec => g +: g.children.flatMap(fused)
      case _ => p.children.flatMap(fused)
    }
    for ((name, df) <- paths.filter(p => Set("kafkaShapedToSnapshot global", "parseLenient")(p._1))) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val generates = collect(plan) { case g: GenerateExec => g }
      val compiled = collect(plan) { case w: WholeStageCodegenExec => w }.flatMap(w => fused(w.child))
      assert(generates.nonEmpty && compiled.size == generates.size,
        s"$name: Generate outside whole-stage codegen\n$plan")
    }
    // and the shared step still computes what the lenient path keeps
    assert(StreamingIngest.parseKafkaShaped(frame).collect().toSeq == Seq(Row(7L, "a", 1L)))
  }

  test("plan shape: latestWins plans one exchange and no window") {
    // max_by's struct buffer is not fixed-width, so this is a
    // SortAggregate pair around the exchange, not a hash aggregate
    val id = col("id")
    val df = Ingest.latestWins(
      spark.range(0, 100).select((id % 7).as("k"), id.as("v"), id.cast("string").as("p")),
      keys = Seq("k"), version = Seq("v"))
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan)
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan)
  }

  test("DLQ split: conserves every row, quarantines raw payloads, agrees with the lenient drop") {
    val rows = src(
      (0, 1L, """{"id":1,"msg":"a"}"""),
      (0, 2L, """{"id":2"""),            // truncated → corrupt
      (0, 3L, "not json at all"),        // → corrupt
      (0, 4L, """{"msg":"only"}"""),     // valid, missing id → ok
      (0, 5L, """{"id":5,"msg":"e"}"""))
    val split = Ingest.parseWithDlq(rows, "value", Ingest.msgSchema)
    assert(split.count() == 5, "DLQ split must conserve every input row")
    val corrupt = split.where(col("disposition") === "corrupt")
      .select("value").as[String].collect().toSet
    assert(corrupt == Set("""{"id":2""", "not json at all"),
      "exactly the malformed payloads, raw bytes intact")
    // the ok slice is exactly what parseLenient keeps (minus defaults)
    val okIds = split.where(col("disposition") === "ok")
      .select("offset").as[Long].collect().toSet
    val lenientIds = Ingest.parseLenient(rows, "value", Ingest.msgSchema,
      defaults = Map.empty).select("offset").as[Long].collect().toSet
    assert(okIds == lenientIds && okIds == Set(1L, 4L, 5L),
      "ok slice must equal the lenient parser's keep set")
    // parsed fields ride along; missing fields are null (not corrupt)
    val row4 = split.where(col("offset") === 4L).select("id", "msg").collect()(0)
    assert(row4.isNullAt(0) && row4.getString(1) == "only")
  }

  test("property: latest-wins is input-order-insensitive and idempotent") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val rows = List.fill(1 + rnd.nextInt(40))(
        (rnd.nextInt(6).toLong, rnd.alphanumeric.take(4).mkString, rnd.nextInt(100).toLong))
      // tie-break on (offset, msg) → deterministic even with dup offsets
      val df = rows.toDF("id", "msg", "offset")
      val shuffled = rnd.shuffle(rows).toDF("id", "msg", "offset")
      val a = Ingest.latestWins(df, Seq("id"), Seq("offset", "msg"))
        .orderBy("id").collect().toSeq
      val b = Ingest.latestWins(shuffled, Seq("id"), Seq("offset", "msg"))
        .orderBy("id").collect().toSeq
      assert(a == b)
      // idempotence: dedup of the dedup is a fixpoint
      val c = Ingest.latestWins(
        Ingest.latestWins(df, Seq("id"), Seq("offset", "msg")),
        Seq("id"), Seq("offset", "msg")).orderBy("id").collect().toSeq
      assert(c == a)
      // per-key result = max by (offset, msg) — reference semantics
      val expect = rows.groupBy(_._1).view.mapValues(_.maxBy(r => (r._3, r._2))).toMap
      assert(a.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap ==
        expect.map { case (k, (_, m, o)) => k -> (m, o) })
    }
  }

  test("property: from_json/to_json round-trip on the reference schema") {
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, ""), (Long.MaxValue, "x"), (Long.MinValue, "yz")) ++
      Seq.fill(10)((rnd.nextLong(), rnd.alphanumeric.take(12).mkString))
    for ((id, msg) <- cases) {
      val df = Seq((id, msg)).toDF("id", "msg")
        .select(to_json(struct(col("id"), col("msg"))).as("j"))
        .select(from_json(col("j"), Ingest.msgSchema).as("p"))
        .select("p.id", "p.msg")
      assert(df.collect().head == Row(id, msg))
    }
  }

  test("Dataset.observe reports ingest metrics from the same pass (no second scan)") {
    // Production-observability surface: row counts and null counts ride
    // the existing action as accumulator metrics — the pattern that
    // monitors a 100 TB ingest without re-scanning it.
    val obs = org.apache.spark.sql.Observation("ingest_metrics")
    val src = Tables.t(spark, sf, "events")
      .select(col("user_id").as("id"), col("event_type").as("msg"),
        col("event_id").as("version"))
    val observed = src.observe(obs,
      count(lit(1)).as("n_in"),
      sum(when(col("msg").isNull, 1L).otherwise(0L)).as("n_null_msg"))
    val nOut = Ingest.latestWins(observed, Seq("id"), Seq("version")).count()
    val m = obs.get
    assert(m("n_in") == src.count(), "observed input rows must match table count")
    assert(m("n_null_msg") == 0L)
    assert(nOut <= m("n_in").asInstanceOf[Long])
  }
}
