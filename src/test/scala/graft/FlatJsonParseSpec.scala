package graft

import graft.functions.FlatJsonParse
import graft.operators.Ingest
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.GraftDataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Differential spec of [[Ingest.parseTagged]]'s parse
  * ([[FlatJsonParse]]: byte scanner, Jackson kernel, then `from_json`'s
  * evaluator) against `from_json` alone, over a seeded corpus of
  * well-formed and broken payloads: every record must come out with the
  * same [[Ingest.ParsedOk]] tag and the same parsed struct. It also pins
  * that the fast tiers do the work (they take at least 90% of the
  * well-formed records, and the scanner takes every benchmark-shaped
  * record), that they never take a record `from_json` tags corrupt, and
  * which records the scanner hands on.
  */
class FlatJsonParseSpec extends SparkSpec {
  import spark.implicits._

  private val kSchema = StructType(Seq(StructField("k", LongType)))

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Category → payloads. Seeded, so a failure names a reproducible row. */
  private val corpus: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(20261018L)
    val texts = Seq("a", "", "hello world", "tab\\tnew\\nline", "quote \\\" back \\\\ slash",
      "\\u00e9t\\u00e9", "\\ud83d\\ude00", "café", "日本語", "😀 emoji",
      "slash \\/ and \\b\\f\\r", "\\u0000 nul escape", "{\\\"not\\\": \\\"parsed\\\"}")
    def text() = texts(rnd.nextInt(texts.size)) + rnd.alphanumeric.take(rnd.nextInt(8)).mkString
    def long() = rnd.nextInt(6) match {
      case 0 => Long.MaxValue
      case 1 => Long.MinValue
      case 2 => -rnd.nextInt(1000).toLong
      case _ => rnd.nextInt(100000).toLong
    }
    def ws() = Seq("", "", " ", "\n", "\t ", "\r\n")(rnd.nextInt(6))
    def obj(fields: Seq[(String, String)]) =
      fields.map { case (k, v) => s"$ws\"$k\"$ws:$ws$v$ws" }.mkString("{", ",", s"}$ws")
    def record(): Seq[(String, String)] =
      rnd.shuffle(Seq("id" -> long().toString, "msg" -> s"\"${text()}\"",
        "k" -> long().toString).filter(_ => rnd.nextInt(4) != 0))
    def wellFormed(): Array[Byte] = b(
      (if (rnd.nextInt(25) == 0) " " else "") + obj(rnd.nextInt(5) match {
        case 0 => record() :+ ("extra" -> "1")
        case _ => record()
      }))
    val some: Seq[(String, () => String)] = Seq(
      "missing fields" -> (() => obj(record().take(rnd.nextInt(2)))),
      "extra scalar keys" -> (() => obj(record() ++ Seq("x" -> "1.5", "y" -> "true", "z" -> "null",
        "s" -> "\"str\"", "n" -> "-7e-3"))),
      "extra nested keys" -> (() => obj(rnd.shuffle(record() ++ Seq("nest" -> """{"a":[1,{"b":null}],"id":9}""",
        "arr" -> """[[],{},"x",[{"msg":1}]]""")))),
      "duplicate keys" -> (() => obj(Seq(Seq("id" -> "1", "id" -> "2"), Seq("msg" -> "\"a\"", "msg" -> "\"b\""),
        Seq("k" -> "1", "k" -> "1"), Seq("id" -> "null", "id" -> "3"))(rnd.nextInt(4)) ++ record())),
      "id variants" -> (() => obj(Seq("id" -> Seq("\"12\"", "12.5", "1e3", "1E3", "012", "-0", "00",
        "9223372036854775808", "-9223372036854775809", "-9223372036854775808", "-5", "{\"a\":1}",
        "[1]", "true", "false", "null", "\"\"", "NaN", "Infinity", "+1", "0x10", "1.0")(rnd.nextInt(22)),
        "msg" -> "\"m\"", "k" -> Seq("1", "1.0", "\"1\"", "99999999999999999999", "null")(rnd.nextInt(5))))),
      "msg variants" -> (() => obj(Seq("id" -> "1", "msg" -> Seq("5", "-1.50", "{\"a\":1}", "[1,2]", "[]",
        "true", "false", "null", "\"x\"", "{\"id\":2}")(rnd.nextInt(10))))),
      "quoting and comments" -> (() => Seq(
        "{'id':1,'msg':'a'}", "{\"id\":1,\"msg\":'a'}", "{id:1,msg:\"a\"}", "{\"id\":1,k:2}",
        "{\"id\":1/*c*/,\"msg\":\"a\"}", "// c\n{\"id\":1}", "{\"id\":1} # c", "{\"id\":1,\"msg\":\"a\"} // c",
        "{\"id\":1,}", "{,\"id\":1}", "{\"id\":1 \"msg\":\"a\"}", "{\"msg\":\"raw\ttab\"}",
        "{\"msg\":\"raw\nline\"}", "{\"msg\":\"bad \\x escape\"}", "{\"msg\":\"\\ud800 lone\"}")(rnd.nextInt(15))),
      "not an object" -> (() => Seq("[{\"id\":1}]", "[]", "1", "-3", "\"s\"", "true", "null", "", " ", "\n",
        "  {\"id\":1,\"msg\":\"lead\"}", "\t{\"k\":4}", "{}", "{ }")(rnd.nextInt(14))),
      "trailing and truncated" -> (() => {
        val whole = obj(record())
        Seq(whole + " x", whole + "}", whole + "{\"id\":2}", whole + ",", whole + " 1",
          whole + " \n ", whole.take(rnd.nextInt(whole.length)))(rnd.nextInt(7))
      }),
      "case clashes and _corrupt" -> (() => obj(Seq("_corrupt" -> "\"x\"", "_CORRUPT" -> "1", "ID" -> "5",
        "Id" -> "\"s\"", "MSG" -> "\"m\"", "Msg" -> "1", "K" -> "1", "K" -> "2",
        "_corrupt" -> "null")(rnd.nextInt(9)) +: record())))
    val fixedBytes: Seq[Array[Byte]] = Seq(
      bytes(0xEF, 0xBB, 0xBF) ++ b("{\"id\":1,\"msg\":\"bom\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xFF) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xC3, 0x28) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xC0, 0xAF) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xC1, 0xA2) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xE0, 0x80, 0xAF) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xED, 0xA0, 0x80) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xF4, 0x90, 0x80, 0x80) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"") ++ bytes(0xF8, 0x88, 0x80, 0x80, 0x80) ++ b("\"}"),
      b("{\"id\":1,\"msg\":\"end") ++ bytes(0xE6, 0x97) ++ b("\"}"),
      b("{\"id\":1,\"") ++ bytes(0xFE) ++ b("\":2}"),
      b("{\"id\":1,\"x\":\"") ++ bytes(0x80) ++ b("\",\"k\":3}"),
      b("{\"id\":1,\"msg\":\"ok\"}") ++ bytes(0xFF),
      bytes('{', 0) ++ b("\"id\":1}"),
      bytes('{', 0, 0, 0),
      bytes(0, '{', 0, '}'),
      b("{\"x\":" + "[" * 1100 + "]" * 1100 + ",\"id\":1}"),
      b("{\"x\":" + "[" * 200 + "]" * 200 + ",\"id\":1}"),
      b("{\"msg\":\"" + "long " * 4000 + "\"}"),
      b("{\"id\":" + "1" * 1200 + "}"))
    val broken = (0 until 1100).map { i =>
      val (name, gen) = some(i % some.size)
      name -> b(gen())
    } ++ fixedBytes.map("invalid bytes, BOM, limits" -> _)
    Seq.fill(1300)("well-formed" -> wellFormed()) ++ broken
  }

  /** The corpus as a computed (RDD-backed) frame, so the parse runs in
    * generated code at execution rather than being folded at planning.
    */
  private lazy val frame: DataFrame =
    spark.sparkContext.parallelize(corpus.zipWithIndex.map { case ((c, v), i) => (i, c, v) }, 4)
      .toDF("i", "category", "raw")
      .select(col("i"), col("category"), col("raw").cast("string").as("value"))

  private def rows(df: DataFrame): Map[Int, Row] =
    df.collect().map(r => r.getInt(0) -> r).toMap

  /** `from_json` alone, with the options `parseTagged` gives it. */
  private def reference(schema: StructType): Map[Int, Row] = {
    val j = from_json(col("value"), FlatJsonParse.withCorrupt(schema),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> FlatJsonParse.Corrupt))
    rows(frame.select(col("i"), j.as("__j"))
      .select(col("i"), (col("__j").isNotNull && col("__j._corrupt").isNull).as("ok"), col("__j")))
  }

  private def tagged(schema: StructType): Map[Int, Row] =
    rows(Ingest.parseTagged(frame, "value", schema).select(col("i"), col(Ingest.ParsedOk), col("__j")))

  /** Whether the kernel alone takes each record (non-null result). */
  private def taken(schema: StructType): Map[Int, Boolean] =
    frame.select(col("i"),
      GraftDataset.column(FlatJsonParse(GraftDataset.expr(col("value")), schema)).isNotNull)
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap

  test("contract: the kernel declines what it is not sure of, even where from_json would agree") {
    def kernel(schema: StructType) = FlatJsonParse(BoundReference(0, StringType, nullable = true), schema)
    def parse(bs: Array[Byte]) = kernel(Ingest.msgSchema).eval(InternalRow(UTF8String.fromBytes(bs)))
    val taken = Seq("""{"id":1,"msg":"a"}""", """{"msg":"a","id":1} """, """{"x":{"id":[2]},"id":null}""", "{}")
    for (j <- taken) assert(parse(b(j)) != null, j)
    val declined = Seq(
      """{"id":1,"id":2}""", """{"msg":"a","msg":null}""",        // a schema field twice
      """{"ID":1}""", """{"Msg":"a"}""", """{"_corrupt":"x"}""",    // case clash, corrupt column
      """{"id":1} x""", """{"id":1}{"id":2}""", """{"id":1}}""",    // trailing tokens
      """ {"id":1}""", """[{"id":1}]""", "", "{",                    // not one object from byte 0
      """{'id':1}""", """{id:1}""", """{"id":1/**/}""", """{"id":01}""", // strict features
      """{"id":1.0}""", """{"id":"1"}""", """{"msg":1}""", """{"msg":{}}""", // value kinds
      """{"id":9223372036854775808}""")
    for (j <- declined) assert(parse(b(j)) == null, j)
    assert(parse(bytes(0xEF, 0xBB, 0xBF) ++ b("""{"id":1}""")) == null, "BOM")
    assert(parse(bytes('{', 0) ++ b(""""id":1}""")) == null, "NUL second byte")
    assert(parse(b("""{"msg":"""") ++ bytes(0xC0, 0xAF) ++ b(""""}""")) == null, "overlong UTF-8")
    assert(kernel(StructType(Seq(StructField("d", DoubleType))))
      .eval(InternalRow(UTF8String.fromString("""{"d":1}"""))) == null, "non-flat schema")
  }

  private def scan(schema: StructType, bs: Array[Byte]): InternalRow =
    FlatJsonParse.scan(UTF8String.fromBytes(bs), schema.fieldNames,
      schema.fields.map(f => FlatJsonParse.kind(f.dataType)))

  test("byte tier: takes flat objects of ASCII bytes with exactly the schema's keys") {
    def fields(j: String) = {
      val r = scan(Ingest.msgSchema, b(j))
      assert(r != null, j)
      (if (r.isNullAt(0)) null else r.getLong(0), Option(r.getUTF8String(1)).map(_.toString).orNull,
        r.isNullAt(2))
    }
    assert(fields("""{"id":1,"msg":"a"}""") == ((1L, "a", true)))
    assert(fields("""{"msg":"a","id":1}""") == ((1L, "a", true)))
    assert(fields("{\t\"id\" :\r\n-12 ,  \"msg\"\n:\"b c/d\u007f\" }") == ((-12L, "b c/d\u007f", true)))
    assert(fields("""{"id":null,"msg":null}""") == ((null, null, true)))
    assert(fields("""{"msg":"","id":0}""") == ((0L, "", true)))
    assert(fields("""{"id":999999999999999999}""") == ((999999999999999999L, null, true)))
    assert(fields("""{"id":-999999999999999999}""") == ((-999999999999999999L, null, true)))
    assert(fields("{}") == ((null, null, true)))
    assert(fields("{ \n}") == ((null, null, true)))
    val k = scan(kSchema, b("""{"k":42}"""))
    assert(k != null && k.getLong(0) == 42L && k.isNullAt(1))
  }

  test("byte tier: hands everything else on to the Jackson kernel") {
    val handed = Seq(
      """{"msg":"a\"b"}""", "{\"msg\":\"\\u0061\"}", """{"msg":"a\/b"}""",   // escapes
      "{\"msg\":\"a\tb\"}", "{\"msg\":\"a\u0001b\"}",                   // control bytes
      """{"id":1,"x":2}""", """{"x":null}""",                               // unknown keys
      """{"ID":1}""", """{"Msg":"a"}""", """{"_corrupt":"x"}""",             // case clash, corrupt column
      """{"id":1,"id":2}""", """{"msg":null,"msg":"a"}""",                  // duplicate keys
      """{"id":1.5}""", """{"id":1.0}""", """{"id":1e3}""", """{"id":1E3}""", // floats, exponents
      """{"id":01}""", """{"id":00}""", """{"id":-01}""",                   // leading zeros
      """{"id":1000000000000000000}""", """{"id":-9223372036854775808}""",  // 19 digits
      """{"id":-}""", """{"id":-,"msg":"a"}""", """{"id":+1}""",            // bare sign
      """{"id":"1"}""", """{"msg":1}""", """{"id":true}""", """{"msg":{}}""", """{"id":[1]}""", // kinds
      """{"id":nul}""", """{"id":nulll}""", """{"id":1,}""", """{,"id":1}""", """{"id" 1}""", // syntax
      """{"id":1""", """{"id":1,""", """{"msg":"a""", "{", "",              // truncated
      """ {"id":1}""", "\n{}",                                               // leading whitespace
      """{"id":1} """, """{"id":1}x""", """{"id":1}}""", "{}\n")           // trailing bytes
    for (j <- handed) assert(scan(Ingest.msgSchema, b(j)) == null, j)
    val raw = Seq(
      bytes(0xEF, 0xBB, 0xBF) ++ b("""{"id":1}"""),                         // BOM
      b("""{"msg":"caf""") ++ bytes(0xC3, 0xA9) ++ b(""""}"""),             // non-ASCII
      b("""{"msg":"""") ++ bytes(0xFF) ++ b(""""}"""),
      b("""{"""") ++ bytes(0xC3, 0xA9) ++ b("""":1}"""),
      bytes('{', 0) ++ b(""""id":1}"""))
    for (bs <- raw) assert(scan(Ingest.msgSchema, bs) == null, bs.toSeq)
  }

  test("byte tier: takes every benchmark-shaped payload") {
    // the keyed log's well-formed records: ids 7 * idx + 1 over the ids of
    // a 200,000-record log, messages of 90 lowercase ASCII letters
    val rnd = new scala.util.Random(20261020L)
    for (_ <- 0 until 5000) {
      val id = rnd.nextInt(20000) * 7L + 1
      val msg = Array.fill(90)(('a' + rnd.nextInt(26)).toChar).mkString
      val j = s"""{"id":$id,"msg":"$msg"}"""
      val r = scan(Ingest.msgSchema, b(j))
      assert(r != null && r.getLong(0) == id && r.getUTF8String(1).toString == msg && r.isNullAt(2), j)
    }
  }

  test("corpus: seeded, at least 2,000 payloads, every category present") {
    assert(corpus.size >= 2000)
    assert(corpus.map(_._1).distinct.size == 12)
  }

  for ((name, schema) <- Seq("msgSchema" -> Ingest.msgSchema, "{k: long}" -> kSchema)) {
    test(s"$name: parseTagged gives exactly from_json's (ParsedOk, fields) rows") {
      val want = reference(schema)
      val got = tagged(schema)
      assert(got.size == corpus.size && want.size == corpus.size)
      val diff = corpus.indices.filter(i => got(i) != want(i))
      assert(diff.isEmpty, diff.take(5).map(i =>
        s"${corpus(i)._1}: ${new String(corpus(i)._2, UTF_8)} → ${got(i)} vs ${want(i)}").mkString("\n"))
    }

    test(s"$name: the kernel takes >= 90% of well-formed records and no corrupt one") {
      val want = reference(schema)
      val took = taken(schema)
      val wellFormed = corpus.indices.filter(corpus(_)._1 == "well-formed")
      val rate = wellFormed.count(took).toDouble / wellFormed.size
      assert(rate >= 0.9, s"kernel took $rate of the well-formed records")
      val corrupt = corpus.indices.filterNot(i => want(i).getBoolean(1))
      assert(corrupt.size >= 200, s"only ${corrupt.size} corrupt records: the corpus lost its broken half")
      val wrong = corrupt.filter(took)
      assert(wrong.isEmpty, wrong.take(5).map(i => new String(corpus(i)._2, UTF_8)).mkString("\n"))
      // and it declines some records from_json parses, which the fallback
      // must then parse: the coalesce is exercised both ways
      assert(corpus.indices.exists(i => want(i).getBoolean(1) && !took(i)))
    }
  }
}
