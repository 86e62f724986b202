package graft.sources.kafkalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 provider for the [[KafkaLog]] format
  * (`format("kafkalog")`, batch and micro-batch streaming).
  *
  * This is the piece that makes Spark's OWN streaming machinery — offset
  * log, admission control, checkpoint recovery — run against engine code:
  * `initialOffset`/`latestOffset` reproduce the reference consumer's
  * seek-to-beginning + end-offsets protocol
  * (`KafkaContext.java:57-66`), `maxOffsetsPerTrigger` is the principled
  * form of its `kafka.limit` record cap (`KafkaInputFormat.java:131`),
  * and one input partition per log partition mirrors its
  * one-split-per-partition layout (`KafkaInputFormat.java:40-44`).
  *
  * Supported options: `path` (the log dir), `maxOffsetsPerTrigger`
  * (per-micro-batch admission cap in offset units, distributed across
  * partitions proportionally to lag — Kafka's policy), `partitions`
  * (comma-separated subset to read, Kafka's `assign`; applies to batch
  * and streaming). Streams always start from the earliest retained
  * offset, exactly like the reference's whole-topic re-read.
  *
  * Batch reads additionally accept the Kafka source's bounded-range
  * options: `startingOffsets` (`"earliest"` | per-partition JSON
  * `{"0":10,...}`, `-2` = earliest) and `endingOffsets` (`"latest"` |
  * per-partition JSON, `-1` = latest, exclusive), plus `limit` — the
  * reference's `kafka.limit` PER-PARTITION record cap, enforced in the
  * record reader exactly where the reference enforces it
  * (`KafkaInputFormat.java:131,188`: one counter per split, stop at the
  * cap). Partitions absent from an offsets JSON default to
  * earliest/latest (lenient — the log's partition count is discovered,
  * not declared).
  */
class KafkaLogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = KafkaLog.SHORT_NAME
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KafkaLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaLogTable(properties.asScala.toMap)
}

class KafkaLogTable(properties: Map[String, String]) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private def dir: String = properties.get("path").orElse(properties.get("PATH"))
    .getOrElse(throw new IllegalArgumentException(
      "kafkalog: 'path' option (the log directory) is required"))
  override def name(): String = s"kafkalog(`$dir`)"
  override def schema(): StructType = KafkaLog.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new KafkaLogSink.KafkaLogWriteBuilder(dir, info)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // SQL catalog tables (`CREATE TABLE ... USING kafkalog OPTIONS (...)`)
    // deliver their OPTIONS as table properties, not scan options — merge
    // them under the read-time options so both surfaces behave alike.
    val opts = properties.map { case (k, v) => k.toLowerCase -> v } ++
      options.asScala.map { case (k, v) => k.toLowerCase -> v }
    new ScanBuilder {
      override def build(): Scan = new KafkaLogScan(
        opts.getOrElse("path", dir),
        opts.get("maxoffsetspertrigger").map(_.toLong),
        OffsetRangeSpec.parse("startingOffsets", opts.get("startingoffsets"),
          default = OffsetRangeSpec.Earliest),
        OffsetRangeSpec.parse("endingOffsets", opts.get("endingoffsets"),
          default = OffsetRangeSpec.Latest),
        opts.get("limit").map(_.toLong).filter(_ >= 0),
        // Kafka's `assign`: read only these partitions (batch AND stream)
        opts.get("partitions").map(_.split(",").map(_.trim.toInt).toSet))
    }
  }
}

/** A batch read boundary (the Kafka source's `startingOffsets` /
  * `endingOffsets`): a named extreme, or explicit per-partition offsets
  * with Kafka's `-2` = earliest / `-1` = latest sentinels. Partitions
  * absent from an explicit map fall back to the boundary's own extreme
  * (`default`), so a log's partition count never has to be declared
  * up front.
  */
case class OffsetRangeSpec(offsets: Map[Int, Long], default: OffsetRangeSpec.Extreme) {
  /** Resolve this boundary for one partition given its retained span
    * `[head, end)`.
    */
  def resolve(partition: Int, head: Long, end: Long): Long =
    offsets.getOrElse(partition,
      if (default == OffsetRangeSpec.Earliest) -2L else -1L) match {
      case -2L => head
      case -1L => end
      case o => o
    }
}

object OffsetRangeSpec {
  sealed trait Extreme
  case object Earliest extends Extreme
  case object Latest extends Extreme

  def parse(name: String, value: Option[String], default: Extreme): OffsetRangeSpec =
    value.map(_.trim) match {
      case None => OffsetRangeSpec(Map.empty, default)
      case Some("earliest") if default == Earliest => OffsetRangeSpec(Map.empty, default)
      case Some("latest") if default == Latest => OffsetRangeSpec(Map.empty, default)
      case Some(s) if s.startsWith("{") =>
        OffsetRangeSpec(KafkaLogOffset.fromJson(s).next, default)
      case Some(other) => throw new IllegalArgumentException(
        s"kafkalog: $name must be ${if (default == Earliest) "'earliest'" else "'latest'"} " +
          s"or a per-partition JSON map, got '$other'")
    }
}

class KafkaLogScan(dir: String, maxOffsetsPerTrigger: Option[Long],
    startingOffsets: OffsetRangeSpec = OffsetRangeSpec(Map.empty, OffsetRangeSpec.Earliest),
    endingOffsets: OffsetRangeSpec = OffsetRangeSpec(Map.empty, OffsetRangeSpec.Latest),
    recordLimit: Option[Long] = None,
    assigned: Option[Set[Int]] = None) extends Scan {
  override def readSchema(): StructType = KafkaLog.schema
  override def description(): String = s"kafkalog $dir"
  override def toBatch: Batch =
    new KafkaLogBatch(dir, startingOffsets, endingOffsets, recordLimit, assigned)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KafkaLogMicroBatchStream(dir, maxOffsetsPerTrigger, assigned)
}

/** Map of partition → next-offset-to-read, the stream's position. JSON is
  * the checkpoint representation (`{"0":12,"3":45}`), hand-built and
  * hand-parsed so offset serde has zero library surface to drift.
  */
case class KafkaLogOffset(next: Map[Int, Long]) extends Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
}

object KafkaLogOffset {
  def fromJson(s: String): KafkaLogOffset = {
    val body = s.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) KafkaLogOffset(Map.empty)
    else KafkaLogOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

/** One task = one log partition's offset span, with its segment files
  * resolved at plan time so executors never list directories.
  * `recordLimit` is the reference's `kafka.limit` per-split record cap
  * (`KafkaInputFormat.java:131`), enforced by the reader.
  */
case class KafkaLogInputPartition(partition: Int, start: Long, end: Long,
    segments: Seq[String], recordLimit: Long = Long.MaxValue) extends InputPartition

class KafkaLogBatch(dir: String,
    startingOffsets: OffsetRangeSpec = OffsetRangeSpec(Map.empty, OffsetRangeSpec.Earliest),
    endingOffsets: OffsetRangeSpec = OffsetRangeSpec(Map.empty, OffsetRangeSpec.Latest),
    recordLimit: Option[Long] = None,
    assigned: Option[Set[Int]] = None) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    KafkaLog.listPartitions(dir)
      .filter { case (p, _) => assigned.forall(_.contains(p)) }
      .map { case (p, segs) =>
      // Whole-log reads (no explicit boundaries) skip the head/tail
      // probes entirely — the reader's own span logic handles it.
      val whole = startingOffsets.offsets.isEmpty && endingOffsets.offsets.isEmpty &&
        startingOffsets.default == OffsetRangeSpec.Earliest &&
        endingOffsets.default == OffsetRangeSpec.Latest
      val (from, until) =
        if (whole) (Long.MinValue, Long.MaxValue)
        else {
          val head = KafkaLog.headOffset(segs)
          val end = KafkaLog.endOffset(segs)
          val f = startingOffsets.resolve(p, head, end)
          val u = endingOffsets.resolve(p, head, end)
          if (u < f) throw new IllegalArgumentException(
            s"kafkalog: endingOffsets($u) < startingOffsets($f) for partition $p")
          (f, u)
        }
      KafkaLogInputPartition(p, from, until, segs,
        recordLimit.getOrElse(Long.MaxValue)): InputPartition
    }.toArray
  override def createReaderFactory(): PartitionReaderFactory = KafkaLogReaderFactory
}

class KafkaLogMicroBatchStream(dir: String, maxOffsetsPerTrigger: Option[Long],
    assigned: Option[Set[Int]] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Per-partition end offsets frozen by an AvailableNow trigger; None
  // for the other triggers, which follow the live log.
  @volatile private var frozenEnd: Option[Map[Int, Long]] = None

  // Per-trigger discovery (listing + head/tail reads, never a full scan),
  // so records appended between triggers are picked up — the log behaves
  // like a live topic, not a frozen snapshot. Under AvailableNow each
  // end is capped at the frozen one, so the run drains exactly what was
  // there when it started (a partition created since admits nothing).
  private def discover(): Seq[(Int, Seq[String], Long, Long)] =
    KafkaLog.listPartitions(dir)
      .filter { case (p, _) => assigned.forall(_.contains(p)) }
      .map { case (p, segs) =>
        val head = KafkaLog.headOffset(segs)
        val end = KafkaLog.endOffset(segs)
        (p, segs, head, frozenEnd.fold(end)(f => math.min(end, f.getOrElse(p, head))))
      }

  /** AvailableNow: freeze each partition's end offset once; admission
    * control still splits the backlog into `maxOffsetsPerTrigger`-sized
    * batches (Spark's fallback for sources without this interface reads
    * everything in one batch).
    */
  override def prepareForTriggerAvailableNow(): Unit =
    frozenEnd = Some(discover().map { case (p, _, _, end) => p -> end }.toMap)

  override def initialOffset(): Offset =
    KafkaLogOffset(discover().map { case (p, _, head, _) => p -> head }.toMap)

  override def deserializeOffset(json: String): Offset = KafkaLogOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxOffsetsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  // Plain latestOffset is never called once SupportsAdmissionControl is
  // implemented (same contract as the Kafka source).
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "kafkalog uses latestOffset(start, limit) — admission-controlled")

  /** Advance each partition toward its end offset, capped by the read
    * limit via [[KafkaLogMicroBatchStream.allocate]].
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = start.asInstanceOf[KafkaLogOffset].next
    val state = discover()
    val lags = state.map { case (p, _, head, end) =>
      val from = cur.getOrElse(p, head)
      p -> math.max(0L, end - from)
    }
    val cap = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    }
    val alloc = KafkaLogMicroBatchStream.allocate(lags, cap)
    KafkaLogOffset(state.map { case (p, _, head, _) =>
      val from = cur.getOrElse(p, head)
      p -> (from + alloc.getOrElse(p, 0L))
    }.toMap)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaLogOffset].next
    val e = end.asInstanceOf[KafkaLogOffset].next
    val segsByPart = KafkaLog.listPartitions(dir).toMap
    e.toSeq.sortBy(_._1).flatMap { case (p, until) =>
      val from = s.getOrElse(p, segsByPart.get(p).map(KafkaLog.headOffset).getOrElse(0L))
      if (until > from)
        segsByPart.get(p).map(segs =>
          KafkaLogInputPartition(p, from, until, segs): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = KafkaLogReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object KafkaLogMicroBatchStream {
  /** Distribute an admission cap across partitions proportionally to
    * lag (floor), remainder round-robined to still-lagging partitions —
    * Kafka's `maxOffsetsPerTrigger` policy. Invariants (pinned by
    * ScalaCheck in `KafkaLogSourceSpec`): 0 ≤ alloc(p) ≤ lag(p);
    * Σ alloc = min(cap, Σ lag); progress whenever cap ≥ 1 and Σ lag > 0.
    * Termination of the remainder loop: when total > cap, the headroom
    * Σ(lag − base) = total − Σ base ≥ total − cap ≥ rem, so every pass
    * over the partitions places at least one unit until rem is 0.
    */
  def allocate(lags: Seq[(Int, Long)], cap: Long): Map[Int, Long] = {
    require(cap >= 0 && lags.forall(_._2 >= 0), s"negative cap/lag: $cap $lags")
    val total = lags.map(_._2).sum
    if (total <= cap) lags.toMap
    else {
      val lagOf = lags.toMap
      // BigInt: cap * lag overflows Long once both pass ~3B (offsets at
      // 100 TB scale are exactly that large)
      val base = scala.collection.mutable.Map(
        lags.map { case (p, lag) => p -> (BigInt(cap) * lag / total).toLong }: _*)
      var rem = cap - base.values.sum
      val order = lags.map(_._1)
      var i = 0
      while (rem > 0 && order.nonEmpty) {
        val p = order(i % order.size)
        if (base(p) < lagOf(p)) { base(p) += 1; rem -= 1 }
        i += 1
      }
      base.toMap
    }
  }
}

object KafkaLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaLogPartitionReader(partition.asInstanceOf[KafkaLogInputPartition])
}

/** Streams one partition's segments in order, skipping to `start` and
  * early-exiting at `end` — the offsets-sorted invariant makes a range
  * read one contiguous span. Monotonicity is verified as it reads; a
  * corrupt (out-of-order) log fails the task rather than silently
  * misordering the partition (the per-partition-order guarantee is the
  * whole point of the format).
  */
class KafkaLogPartitionReader(part: KafkaLogInputPartition)
    extends PartitionReader[InternalRow] {
  private val segments = part.segments.iterator
  private var reader: java.io.BufferedReader = _
  private var row: InternalRow = _
  private var lastOffset = Long.MinValue
  // the reference's per-split record counter (`KafkaInputFormat.java:188`:
  // `if (limit < 0 || count < limit)`) — here limit<0 is Long.MaxValue
  private var count = 0L

  private def nextReader(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    if (!segments.hasNext) return false
    val path = segments.next()
    val in = KafkaLog.fs(path).open(new org.apache.hadoop.fs.Path(path))
    reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    true
  }

  override def next(): Boolean = {
    if (count >= part.recordLimit) {
      if (reader != null) { reader.close(); reader = null }
      return false
    }
    while (true) {
      if (reader == null && !nextReader()) return false
      val line = reader.readLine()
      if (line == null) {
        reader.close(); reader = null
      } else if (line.nonEmpty) {
        val off = KafkaLog.parseOffset(line, part.segments.mkString(","))
        if (off <= lastOffset)
          throw new IllegalStateException(
            s"kafkalog: offsets out of order in p=${part.partition} ($off after $lastOffset)")
        lastOffset = off
        if (off >= part.end) { reader.close(); reader = null; return false }
        if (off >= part.start) {
          row = new GenericInternalRow(Array[Any](
            part.partition, off, UTF8String.fromString(KafkaLog.decodeValue(line))))
          count += 1
          return true
        }
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (reader != null) reader.close()
}
