package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonToken}
import java.util.Locale
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, JsonToStructs, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** `from_json` for flat records, in three tiers: parses a JSON string
  * into `schema`'s fields plus a null [[FlatJsonParse.Corrupt]] column —
  * the struct `from_json(json, withCorrupt(schema), PERMISSIVE)`
  * returns. The first two tiers take only the records they are sure to
  * parse as `from_json` does and decline the rest:
  *
  *  1. the byte scanner ([[FlatJsonParse.scan]]) takes one flat object
  *     of ASCII bytes: `{` at byte 0, JSON whitespace between tokens,
  *     keys that are exactly schema fields, each at most once, string
  *     values with no backslash or control byte, integers of at most 18
  *     digits with no leading zero, `null`, and nothing after the `}`;
  *  2. the Jackson kernel reads the string's backing bytes with Jackson's
  *     byte-array parser (strict default features, the stream limits of
  *     `from_json`'s parser) and takes one top-level object whose first
  *     byte is `{`, followed by nothing but whitespace, with, for each
  *     `LongType` field, an integer token that fits in a long or `null`,
  *     for each `StringType` field a string token or `null`, each schema
  *     field at most once, and other keys skipped. It declines any
  *     parser error (single quotes, comments, unquoted names, leading
  *     zeros, truncation), invalid UTF-8, a float or out-of-range
  *     number, a value of another kind in a schema field, a duplicate
  *     field, a key that equals a schema field or `_corrupt` when case
  *     is ignored, and trailing tokens;
  *  3. `exact`, when set, answers every record both tiers decline with
  *     `from_json`'s own result: the [[JsonToStructsEvaluator]] that
  *     `JsonToStructs.nullSafeEval` calls, built by
  *     [[FlatJsonParse.fromJson]]. It is a field, not a child, so the
  *     expression has no `CodegenFallback` in it and compiles into
  *     whole-stage code. Without it the expression returns null for a
  *     declined record.
  *
  * A schema with a field type other than long or string skips both
  * fast tiers. Binary input is cast to string, as it is for `from_json`.
  */
case class FlatJsonParse(child: Expression, schema: StructType,
    exact: Option[JsonToStructsEvaluator] = None)
    extends UnaryExpression with ImplicitCastInputTypes {

  private val names: Array[String] = schema.fieldNames
  private val kinds: Array[Byte] = schema.fields.map(f => FlatJsonParse.kind(f.dataType))

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = FlatJsonParse.withCorrupt(schema)

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    FlatJsonParse.parse(v.asInstanceOf[UTF8String], names, kinds, exact.orNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.addReferenceObj("flatJsonNames", names, "java.lang.String[]")
    val k = ctx.addReferenceObj("flatJsonKinds", kinds, "byte[]")
    val e = exact.fold("null")(ctx.addReferenceObj("flatJsonExact", _, classOf[JsonToStructsEvaluator].getName))
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.FlatJsonParse$$.MODULE$$.parse($c, $n, $k, $e);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FlatJsonParse {

  /** The corrupt-record column `from_json` is asked for. */
  val Corrupt = "_corrupt"

  /** The options `from_json` parses with: PERMISSIVE, corrupt records
    * tagged in [[Corrupt]].
    */
  val Options: Map[String, String] = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> Corrupt)

  /** `schema`'s fields plus the corrupt-record column, all nullable. */
  def withCorrupt(schema: StructType): StructType =
    StructType((schema.fields :+ StructField(Corrupt, StringType)).map(_.copy(nullable = true)))

  /** The evaluator of `from_json(json, withCorrupt(schema), Options)` in
    * session `s`, with the arguments `JsonToStructs` gives it there: its
    * nullable schema, options and variant flag, and the session's
    * corrupt-record column name and time zone.
    */
  def fromJson(s: SparkSession, schema: StructType): JsonToStructsEvaluator = {
    val j = JsonToStructs(withCorrupt(schema), Options, Literal(null, StringType),
      Some(s.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)))
    JsonToStructsEvaluator(j.options, j.dataType, s.conf.get(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD.key),
      j.timeZoneId, j.variantAllowDuplicateKeys)
  }

  private val LongKind: Byte = 0
  private val StringKind: Byte = 1
  private val OtherKind: Byte = -1
  private val Clash = -2

  /** The tiers' code for a field type: long, string, or any other. */
  private[graft] def kind(t: DataType): Byte = t match {
    case LongType => LongKind
    case StringType => StringKind
    case _ => OtherKind
  }

  // strict defaults; only the stream limits (nesting depth, number and
  // string length) are taken from from_json's own parser
  private lazy val factory: JsonFactory = new JsonFactoryBuilder()
    .streamReadConstraints(new JSONOptions(Map.empty[String, String], "UTC", Corrupt)
      .buildJsonFactory().streamReadConstraints())
    .build()

  /** The parse (also called from generated code): the scanner, then the
    * Jackson kernel, then `exact` when it is not null. Null only where
    * every tier that ran declined.
    */
  def parse(json: UTF8String, names: Array[String], kinds: Array[Byte],
      exact: JsonToStructsEvaluator): InternalRow = {
    var row: InternalRow = null
    if (flat(kinds)) {
      row = scan(json, names, kinds)
      if (row == null) row = jackson(json, names, kinds)
    }
    if (row == null && exact != null) row = exact.evaluate(json).asInstanceOf[InternalRow]
    row
  }

  private def flat(kinds: Array[Byte]): Boolean = {
    var f = 0
    while (f < kinds.length) { if (kinds(f) == OtherKind) return false; f += 1 }
    true
  }

  /** The byte-scanner tier: the row for one flat object of ASCII bytes
    * (see the class doc), or null to hand the record on. The schema must
    * be all long and string fields.
    */
  def scan(json: UTF8String, names: Array[String], kinds: Array[Byte]): InternalRow = {
    val bytes = json.getBaseObject match {
      case a: Array[Byte] => a
      case _ => return null
    }
    val off = (json.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt
    val end = off + json.numBytes
    if (end == off || bytes(off) != '{') return null
    val values = new Array[Any](names.length + 1)
    val seen = new Array[Boolean](names.length)
    var i = space(bytes, off + 1, end)
    if (i < end && bytes(i) == '}') return if (i + 1 == end) new GenericInternalRow(values) else null
    while (i < end && bytes(i) == '"') {
      val e = quote(bytes, i + 1, end)
      if (e < 0) return null
      val f = field(bytes, i + 1, e, names)
      if (f < 0 || seen(f)) return null
      seen(f) = true
      i = space(bytes, e + 1, end)
      if (i >= end || bytes(i) != ':') return null
      i = space(bytes, i + 1, end)
      if (i >= end) return null
      val c = bytes(i)
      if (c == 'n') {
        if (i + 4 > end || bytes(i + 1) != 'u' || bytes(i + 2) != 'l' || bytes(i + 3) != 'l') return null
        i += 4
      } else if (c == '"') {
        if (kinds(f) != StringKind) return null
        val q = quote(bytes, i + 1, end)
        if (q < 0) return null
        values(f) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i + 1, q))
        i = q + 1
      } else {
        if (kinds(f) != LongKind) return null
        val neg = c == '-'
        if (neg) i += 1
        val d = i
        var v = 0L
        while (i < end && bytes(i) >= '0' && bytes(i) <= '9') { v = v * 10 + (bytes(i) - '0'); i += 1 }
        if (i == d || i - d > 18 || (i - d > 1 && bytes(d) == '0')) return null
        values(f) = if (neg) -v else v
      }
      i = space(bytes, i, end)
      if (i < end && bytes(i) == '}') return if (i + 1 == end) new GenericInternalRow(values) else null
      if (i >= end || bytes(i) != ',') return null
      i = space(bytes, i + 1, end)
    }
    null
  }

  /** The first index at or after `i` that is not JSON whitespace. */
  private def space(bytes: Array[Byte], i: Int, end: Int): Int = {
    var j = i
    while (j < end && (bytes(j) == ' ' || bytes(j) == '\n' || bytes(j) == '\r' || bytes(j) == '\t')) j += 1
    j
  }

  /** The index of the `"` that closes a string starting at `i`, or -1 at
    * a backslash, a control or non-ASCII byte (all negative bytes), or
    * the end.
    */
  private def quote(bytes: Array[Byte], i: Int, end: Int): Int = {
    var j = i
    while (j < end) {
      val b = bytes(j)
      if (b == '"') return j
      if (b < 0x20 || b == '\\') return -1
      j += 1
    }
    -1
  }

  /** The schema field whose name is exactly the ASCII key `bytes[s, e)`,
    * else -1.
    */
  private def field(bytes: Array[Byte], s: Int, e: Int, names: Array[String]): Int = {
    var f = 0
    while (f < names.length) {
      val name = names(f)
      if (name.length == e - s) {
        var j = 0
        while (j < name.length && name.charAt(j) == bytes(s + j)) j += 1
        if (j == name.length) return f
      }
      f += 1
    }
    -1
  }

  /** The Jackson kernel: the row, or null to decline. */
  private def jackson(json: UTF8String, names: Array[String], kinds: Array[Byte]): InternalRow = {
    val n = names.length
    val buf = json.getByteBuffer
    val bytes = buf.array()
    val off = buf.arrayOffset() + buf.position()
    val len = buf.remaining()
    // a '{' then a non-zero byte pins Jackson's encoding detection to
    // UTF-8 with no BOM; from_json decodes as UTF-8 and replaces invalid
    // bytes, which Jackson would not, so those records are declined
    if (len < 2 || bytes(off) != '{' || bytes(off + 1) == 0 || !json.isValid) return null
    val values = new Array[Any](n + 1)
    val seen = new Array[Boolean](n)
    val p = factory.createParser(bytes, off, len)
    try {
      p.nextToken() // START_OBJECT
      var t = p.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val i = slot(p.currentName(), names)
        t = p.nextToken()
        if (i >= 0) {
          if (seen(i)) return null
          seen(i) = true
          if (t == JsonToken.VALUE_NUMBER_INT && kinds(i) == LongKind) values(i) = p.getLongValue
          else if (t == JsonToken.VALUE_STRING && kinds(i) == StringKind)
            values(i) = UTF8String.fromString(p.getText)
          else if (t != JsonToken.VALUE_NULL) return null
        } else if (i == Clash) return null
        else p.skipChildren()
        t = p.nextToken()
      }
      if (t != JsonToken.END_OBJECT || p.nextToken() != null) return null
      new GenericInternalRow(values)
    } catch {
      case NonFatal(_) => null
    } finally p.close()
  }

  /** The field index of key `name`, [[Clash]] when it matches a schema
    * field or [[Corrupt]] only when case is ignored (or is [[Corrupt]]),
    * else -1.
    */
  private def slot(name: String, names: Array[String]): Int = {
    var i = 0
    while (i < names.length) { if (names(i) == name) return i; i += 1 }
    def same(other: String) =
      name.equalsIgnoreCase(other) || name.toLowerCase(Locale.ROOT) == other.toLowerCase(Locale.ROOT)
    if (same(Corrupt) || names.exists(same)) Clash else -1
  }
}
