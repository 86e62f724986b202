package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}

/** One smoke run per [[Probe]] mode at sf0.001 on the shared session,
  * with every file a mode writes under a scratch directory.
  */
class ProbeSpec extends SparkSpec {

  private def printed(body: => Unit): String = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(body)
    out.toString("UTF-8")
  }

  test("time prints one [benchone] line per query and always-on stage totals") {
    var timings = Seq.empty[Probe.Timing]
    val out = printed { timings = Probe.time(spark, sf, Seq("q1_pricing"), reps = 1) }
    assert(out.linesIterator.count(_.startsWith("[benchone] q1_pricing")) == 1, out)
    assert(out.linesIterator.count(_.startsWith("[benchmetrics] q1_pricing")) == 1, out)
    assert(timings.map(_.name) == Seq("q1_pricing"))
    assert(timings.head.warm.size == 1)
    assert(timings.head.shuffleWriteBytes > 0, timings)
  }

  test("analyze prints the executed plan with runtime row counts") {
    val out = printed(Probe.analyze(spark, sf, Seq("q3_shipping")))
    assert(out.contains("======== q3_shipping (analyzed) ========"), out)
    assert(out.contains("numOutputRows="), out)
  }

  test("explain writes a non-empty <q>_<tag>.txt") {
    val dir = Scratch.dir("probe_explain")
    val out = printed(Probe.explain(spark, sf, dir, "t", Seq("q1_pricing")))
    val file = Paths.get(dir, "q1_pricing_t.txt")
    assert(Files.size(file) > 0)
    assert(out.contains(s"[explainto] wrote $file"), out)
  }

  test("stream reports the query's micro-batches once the listener bus is drained") {
    val out = printed(Probe.stream(spark, sf, Seq("streaming_latest_upsert")))
    assert(out.contains("== streaming_latest_upsert:") && !out.contains("FAILED"), out)
    val inputs = """batch=\s*\d+ input=\s*(\d+)""".r
      .findAllMatchIn(out).map(_.group(1).toLong).toSeq
    assert(inputs.exists(_ > 0), out)
  }

  test("keydump at 12:16 compiles its stages with AQE off and writes their source") {
    val dir = Scratch.dir("probe_keydump")
    val out = printed(Probe.keyDump(spark, sf, Seq("12:16"), dir))
    val lines = out.linesIterator.filter(_.startsWith("[keydump] planes=12 tables=16")).toSeq
    assert(lines.size == 1, out)
    assert(!lines.head.contains("FAILED") && !lines.head.contains("stages=0 "), out)
    assert(new File(dir).list().exists(_.startsWith("p12_t16_s")), out)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "keydump must not turn AQE off in the session it was given")
  }
}
