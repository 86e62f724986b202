package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating function (the UDTF extension surface): one input
  * row → (pos, gram) rows for every word n-gram of the text — a custom
  * Catalyst [[Generator]], the Scala-side equivalent of a UDTF
  * (reference capability: per-record fan-out of the ingested payload;
  * cf. /root/reference/src/main/java/hadoop/kafka/newconsumer/
  * HadoopKafkaConsumer.java:92-101 — the reducer's one-in-many-out emit
  * loop is the only row-multiplying shape the reference has).
  *
  * Catalyst plans it as a `Generate` node — the fan-out happens inside
  * the scan stage, streaming, with no intermediate array materialized
  * per row (unlike explode(ngrams(...)), which builds the whole gram
  * array before exploding it). Tokenization matches TextOps.tokens
  * (split on single space, empties dropped).
  */
case class PosWordGrams(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, "gram size must be >= 1")

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pos_word_grams expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val toks = v.asInstanceOf[UTF8String].toString
        .split(' ').filter(_.nonEmpty)
      if (toks.length < n) Nil
      else (0 to toks.length - n).map { i =>
        InternalRow(i, UTF8String.fromString(
          toks.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
