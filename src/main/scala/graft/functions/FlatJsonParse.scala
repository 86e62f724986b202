package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonToken}
import java.util.Locale
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** Byte-level fast path of `from_json` for flat records: parses a JSON
  * string into `schema`'s fields plus a null [[FlatJsonParse.Corrupt]]
  * column — the struct `from_json(json, withCorrupt(schema),
  * PERMISSIVE)` returns — or returns null where it is not sure to agree
  * with `from_json`. Callers put `from_json` behind it in a `coalesce`,
  * so `from_json` stays the one definition of the semantics and only
  * the declined records pay for it.
  *
  * It reads the string's backing bytes with Jackson's byte-array parser
  * (strict default features, the stream limits of `from_json`'s parser)
  * and accepts only:
  *  - one top-level object whose first byte is `{`, followed by nothing
  *    but whitespace;
  *  - for each `LongType` field an integer token that fits in a long, or
  *    `null`; for each `StringType` field a string token, or `null`;
  *  - each schema field at most once; other keys are skipped.
  *
  * It declines everything else: any parser error (single quotes,
  * comments, unquoted names, leading zeros, truncation), invalid UTF-8,
  * a float or out-of-range number, a value of another kind in a schema
  * field, a duplicate field, a key that equals a schema field or
  * `_corrupt` when case is ignored, trailing tokens, and any schema with
  * a field type other than long or string. Binary input is cast to
  * string, as it is for `from_json`.
  */
case class FlatJsonParse(child: Expression, schema: StructType)
    extends UnaryExpression with ImplicitCastInputTypes {

  private val names: Array[String] = schema.fieldNames
  private val kinds: Array[Byte] = schema.fields.map(f => FlatJsonParse.kind(f.dataType))

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = FlatJsonParse.withCorrupt(schema)

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    FlatJsonParse.parse(v.asInstanceOf[UTF8String], names, kinds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.addReferenceObj("flatJsonNames", names, "java.lang.String[]")
    val k = ctx.addReferenceObj("flatJsonKinds", kinds, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.FlatJsonParse$$.MODULE$$.parse($c, $n, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object FlatJsonParse {

  /** The corrupt-record column `from_json` is asked for. */
  val Corrupt = "_corrupt"

  /** `schema`'s fields plus the corrupt-record column, all nullable. */
  def withCorrupt(schema: StructType): StructType =
    StructType((schema.fields :+ StructField(Corrupt, StringType)).map(_.copy(nullable = true)))

  private val LongKind: Byte = 0
  private val StringKind: Byte = 1
  private val OtherKind: Byte = -1
  private val Clash = -2

  private def kind(t: DataType): Byte = t match {
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

  /** The parse (also called from generated code): the row, or null to
    * decline.
    */
  def parse(json: UTF8String, names: Array[String], kinds: Array[Byte]): InternalRow = {
    val n = names.length
    var f = 0
    while (f < n) { if (kinds(f) == OtherKind) return null; f += 1 }
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
