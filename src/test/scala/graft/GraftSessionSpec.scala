package graft

import graft.functions.SimHash32
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The session factory's contract: its function table resolves by name
  * in every session it builds, [[GraftExtensions]] injects the same
  * table, the bench's confs are pinned, and no other file builds a
  * session.
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
}
