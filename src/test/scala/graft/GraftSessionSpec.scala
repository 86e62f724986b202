package graft

import graft.functions.SimHash32
import graft.plans.SargableDateRule
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.unsafe.types.UTF8String

/** The session factory's contract: its function table resolves by name
  * in every session it builds, [[GraftExtensions]] injects the same
  * table, the bench's confs are pinned, and no other file builds a
  * session. The session scope's contract: [[GraftSession.scoped]]
  * restores every conf and rule it changed, a [[GraftSession.pinned]]
  * frame keeps its scoped plan, and no other src/main file changes the
  * optimizer's rules or unsets a conf.
  */
class GraftSessionSpec extends SparkSpec {

  private def simhash(seed: Int): Long = SimHash32.eval(new GenericArrayData(
    Array[Any](UTF8String.fromString("a"), UTF8String.fromString("b"))), seed)

  // One SQL call per function-table row, with the value it must return.
  private val calls: Map[String, (String, Any)] = Map(
    "cosine_sim" -> ("round(cosine_sim(array(1D, 2D), array(2D, 4D)), 9)", 1.0),
    "dot_product" -> ("dot_product(array(1D, 2D), array(3D, 4D))", 11.0),
    "squared_l2" -> ("squared_l2(array(1D, 2D), array(3D, 5D))", 13.0),
    "jaro_winkler" -> ("round(jaro_winkler('martha', 'marhta'), 4)", 0.9611),
    "z_interleave" -> ("z_interleave(1, 2)", 9L),
    "normalize_text" -> ("normalize_text('café', true)", "cafe"),
    "rolling_hash_grams" -> ("size(rolling_hash_grams('abcd', 2))", 3),
    "word_gram_hashes" -> ("size(word_gram_hashes('a b a b', 2))", 2),
    "md5_gram_hashes" -> ("size(md5_gram_hashes('abcd', 2))", 3),
    "pos_word_grams" ->
      ("(SELECT count(*) FROM (SELECT pos_word_grams('a b c', 2)))", 2L),
    "window_min" -> ("window_min(array(3L, 1L, 2L), 2)", Seq(1L, 1L)),
    "simhash32" -> ("simhash32(array('a', 'b'))", simhash(0)),
    "simhash32s" -> ("simhash32s(array('a', 'b'), 1)", simhash(1)))

  test("every function-table row resolves by SQL in a fresh session, with no registration") {
    assert(GraftExtensions.functions.map(_._1).sorted == calls.keys.toSeq.sorted)
    val fresh = spark.newSession()
    for ((name, (call, want)) <- calls) {
      val got = fresh.sql(s"SELECT $call").head().get(0)
      assert(got == want, s"$name: $call returned $got, want $want")
    }
    assert(simhash(0) != simhash(1), "the seeded row must honor its seed")
  }

  test("GraftExtensions injects exactly the function table's names") {
    val injected = scala.collection.mutable.Buffer.empty[String]
    new GraftExtensions().apply(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    })
    assert(injected.sorted == GraftExtensions.functions.map(_._1).sorted)
  }

  private val cores = GraftSession.defaultCores().toString
  private val defaults = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.hugeMethodLimit" -> "8000")

  test("Bench's session confs are pinned: AQE on, compression off, hugeMethodLimit 8000") {
    assert(GraftSession.confs(extra = Bench.LocalCompressionOff, env = Map.empty) ==
      defaults ++ Map(
        "spark.shuffle.compress" -> "false",
        "spark.shuffle.spill.compress" -> "false",
        "spark.broadcast.compress" -> "false"))
  }

  test("the default caller gets the same confs without the compression triple") {
    assert(GraftSession.confs(env = Map.empty) == defaults)
  }

  test("SPARK_GRAFT_CPUS, SPARK_GRAFT_PARTS and SPARK_MASTER are read by the factory") {
    val env = Map("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_PARTS" -> "64",
      "SPARK_MASTER" -> "spark://h:7077")
    assert(GraftSession.defaultCores(env) == 3)
    val c = GraftSession.confs(cores = 3, env = env)
    assert(c("spark.master") == "spark://h:7077")
    assert(c("spark.sql.shuffle.partitions") == "64")
  }

  test("the shared test session carries the factory's confs at 4 cores") {
    for ((k, v) <- GraftSession.confs(cores = 4))
      assert(spark.conf.get(k) == v, k)
  }

  test("no file under src/main or src/test builds a session outside GraftSession") {
    val needle = "SparkSession" + ".builder"
    val hits = SourceTree.files.collect { case (p, text) if text.contains(needle) => p }
    assert(SourceTree.files.size > 100, s"scanned only ${SourceTree.files.size} files")
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"), hits.mkString(", "))
  }

  private val partitions = "spark.sql.shuffle.partitions"
  private val untouched = "spark.sql.files.maxRecordsPerFile" // no file sets it
  private def installed = spark.experimental.extraOptimizations

  test("scoped puts an explicitly set conf back to its value") {
    val before = spark.conf.getAll(partitions)
    GraftSession.scoped(spark, Map(partitions -> "7")) {
      assert(spark.conf.get(partitions) == "7")
    }
    assert(spark.conf.getAll.get(partitions).contains(before))
  }

  test("scoped unsets a conf that was only a default") {
    assert(!spark.conf.getAll.contains(untouched), s"$untouched is set before the test")
    val default = spark.conf.get(untouched)
    GraftSession.scoped(spark, Map(untouched -> "5")) {
      assert(spark.conf.get(untouched) == "5")
    }
    assert(!spark.conf.getAll.contains(untouched),
      s"$untouched came back as an explicit ${spark.conf.getAll.get(untouched)}")
    assert(spark.conf.get(untouched) == default)
  }

  test("scoped keeps a rule that was installed before it") {
    assert(!installed.contains(SargableDateRule))
    GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
      GraftSession.scoped(spark, rules = Seq(SargableDateRule)) {
        assert(installed.count(_ eq SargableDateRule) == 1)
      }
      assert(installed.contains(SargableDateRule), "the inner scope removed the outer's rule")
    }
    assert(!installed.contains(SargableDateRule))
  }

  test("scoped restores confs and rules when its body throws") {
    val before = spark.conf.getAll(partitions)
    intercept[IllegalStateException] {
      GraftSession.scoped(spark, Map(partitions -> "7", untouched -> "5"),
          Seq(SargableDateRule)) {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getAll.get(partitions).contains(before))
    assert(!spark.conf.getAll.contains(untouched))
    assert(!installed.contains(SargableDateRule))
  }

  test("a pinned frame keeps its scoped plan after the scope closes") {
    val events = Tables.t(spark, sf, "events")
    def build = events.where(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-15")
    val df = GraftSession.pinned(spark, rules = Seq(SargableDateRule))(build)
    assert(!installed.contains(SargableDateRule))
    assert(df.count() == build.count())
    assert(!df.queryExecution.executedPlan.toString.contains("date_format"),
      df.queryExecution.executedPlan.toString)
    assert(build.queryExecution.executedPlan.toString.contains("date_format"),
      "the control, built outside the scope, must keep date_format")
  }

  test("in src/main only GraftSession.scala changes optimizer rules or unsets a conf") {
    val needles = Seq("extraOptimizations", "conf.unset")
    val main = SourceTree.files.filter(_._1.startsWith("src/main/"))
    val hits = for {
      (p, text) <- main
      if p != "src/main/scala/graft/GraftSession.scala"
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(main.size > 50, s"scanned only ${main.size} files")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
