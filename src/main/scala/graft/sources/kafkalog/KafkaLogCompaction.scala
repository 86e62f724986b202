package graft.sources.kafkalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Log COMPACTION for the `kafkalog` format — Kafka's log-cleaner
  * semantics (keep only the highest-offset record per key within each log
  * partition, preserving the surviving records' offsets) as a distributed
  * Spark maintenance job.
  *
  * The reference pipeline re-reads the WHOLE topic every run to rebuild
  * its snapshot (`KafkaContext.java:57-59` seek-to-beginning,
  * `HadoopKafkaConsumer.java:55-90` latest-wins fold); on a real
  * deployment the broker-side answer to that unbounded re-read is a
  * compacted topic, where the log itself converges to one record per key.
  * This module gives the on-disk log the same lifecycle: after
  * `compact()`, a full replay costs O(|keys|), not O(|history|), and the
  * result of any downstream latest-wins fold is UNCHANGED (per-partition
  * argmax-by-offset survives compaction by construction; a global
  * latest-wins over the survivors equals one over the full history).
  *
  * Semantics, matching Kafka's cleaner:
  *  - keyed records: only the record with the highest offset per
  *    (partition, key) survives;
  *  - null-key records are retained as-is (Kafka refuses them on
  *    compacted topics; retaining is the safe engine-side choice — no
  *    data is ever silently dropped by a maintenance op);
  *  - offsets are PRESERVED, so the compacted log keeps offset gaps —
  *    the read path documents gaps as legal, and checkpointed consumer
  *    offsets remain valid across a compaction exactly as on a broker;
  *  - a `minDirtyRatio` gate (Kafka's `min.cleanable.dirty.ratio`)
  *    skips partitions whose reclaimable fraction is below threshold,
  *    so repeated compactions of an already-clean log cost one scan and
  *    zero writes. At 0.0 every partition is rewritten, which doubles as
  *    SEGMENT-FILE compaction (many small epoch segments → one file).
  *
  * Scale stance: the survivor computation is ONE hash aggregate
  * (`max_by(struct(offset,value), offset)` per (partition, key) — the
  * same shuffle shape as `Ingest.latestWins`), plus one small stats
  * aggregate for the dirty-ratio gate; nothing is ever collected to the
  * driver except the per-log-partition report (bounded by the topic's
  * partition count, like every partition listing in this package). Each
  * surviving partition is then written as one sorted segment by a
  * distributed text write. Two scans of the log total (stats + rewrite)
  * when tombstones are off; enabling tombstones adds ONE more full-log
  * pass — a keyed argmax computing the tombstoned-key count for the
  * dirty-ratio stats, on top of the flat stats aggregate and the
  * survivor materialization:
  * the survivor aggregate is persisted before the per-partition rewrite
  * loop, so each partition's segment write reads the materialized
  * |surviving keys| rows, not the log again — the same IO shape as
  * Kafka's cleaner (offset-map build + copy pass).
  *
  * Crash-safety — the swap protocol. Compaction must replace N visible
  * segments with one without ever leaving a state recovery cannot fix:
  *
  *  1. write the compacted segment as hidden `p=<p>/.c<end>.tmp`
  *     (dot-prefixed — scans never list it);
  *  2. write a swap manifest `p=<p>/_compact` naming the tmp, the final
  *     segment name, and every old segment to delete (underscore-prefixed
  *     — also invisible to scans);
  *  3. delete the old segments;
  *  4. rename tmp → `c<end-offset, 20 digits>` (the atomicity point);
  *  5. delete the manifest.
  *
  * A crash before 2 leaves only hidden garbage; a crash after 2 is
  * completed by [[recover]] (re-run the deletes, finish the rename) —
  * called automatically at the start of every `compact()`. Readers
  * between steps 3 and 4 of a LIVE compaction can observe a partial
  * partition, so compaction requires exclusive access to the log — the
  * same contract as Kafka's cleaner (in-broker lock) and table OPTIMIZE
  * in transactional lakehouse formats. The final name `c…` sorts before
  * every sink epoch segment `e…`, preserving the format's invariant that
  * segment-name order equals offset order, so a compacted log remains
  * appendable by [[KafkaLogSink]].
  */
object KafkaLogCompaction {

  /** Per-log-partition compaction outcome. `before`/`after` are record
    * counts; `compacted = false` means the dirty-ratio gate skipped the
    * partition (its files are untouched).
    */
  final case class PartitionCompaction(
      partition: Int, before: Long, after: Long, compacted: Boolean) {
    def dirtyRatio: Double =
      if (before == 0) 0.0 else 1.0 - after.toDouble / before
  }

  /** The reference's record key: `id` of the `{"id","msg"}` JSON payload
    * (`KafkaMessageWithOffset.java:11-13` carries the key the consumer
    * dedups on).
    */
  def referenceKey: Column = get_json_object(col("value"), "$.id")

  private val ManifestName = "_compact"

  /** Compact a kafkalog directory in place. `keyExpr` extracts the
    * record key from a frame with columns `(partition, offset, value)`.
    * Returns the per-partition report (every live partition appears,
    * compacted or skipped).
    */
  /** Compact the log in place. `tombstone` marks DELETE records (Kafka's
    * null-value tombstones, expressed as a predicate over the record so
    * JSON-keyed payloads can carry deletes too): a key whose LATEST
    * record matches it is dropped from the compacted partition entirely
    * — Kafka's cleaner past `delete.retention.ms`. A tombstone overtaken
    * by a later upsert has no effect (latest-wins resolves first). The
    * default `None` keeps plain cleaner behavior and the original
    * single-aggregate stats pass.
    */
  def compact(
      spark: SparkSession,
      dir: String,
      keyExpr: Column = referenceKey,
      minDirtyRatio: Double = 0.0,
      tombstone: Option[Column] = None): Seq[PartitionCompaction] = {
    recover(dir) // finish any interrupted swap before trusting listings
    val parts = KafkaLog.listPartitions(dir)
    if (parts.isEmpty) return Seq.empty

    val tombstonesOn = tombstone.isDefined

    val keyed = spark.read.format(KafkaLog.SHORT_NAME).load(dir)
      .select(col("partition"), col("offset"), col("value"), keyExpr.as("k"),
        tombstone.getOrElse(lit(false)).as("tomb"))

    // Pass 1 — the dirty-ratio gate's stats: survivors per partition =
    // distinct keys + null-key records, MINUS keys whose latest record
    // is a tombstone. One small aggregate (plus, only when tombstones
    // are enabled, a keyed argmax for the tombstoned-key count); the
    // collect is |log partitions| rows.
    val flat = keyed.groupBy("partition")
      .agg(
        count(lit(1)).as("before"),
        (count_distinct(col("k")) +
          count_if(col("k").isNull)).as("after"))
    val statsDf =
      if (!tombstonesOn) flat
      else {
        val tombKeys = keyed.where(col("k").isNotNull)
          .groupBy("partition", "k")
          .agg(max_by(col("tomb"), col("offset")).as("t"))
          .where(col("t"))
          .groupBy("partition").agg(count(lit(1)).as("n_tomb"))
        flat.join(tombKeys, Seq("partition"), "left_outer")
          .select(col("partition"), col("before"),
            (col("after") - coalesce(col("n_tomb"), lit(0L))).as("after"))
      }
    val stats = statsDf
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    val report = parts.map { case (p, _) =>
      val (before, after) = stats.getOrElse(p, (0L, 0L))
      val dirty = if (before == 0) 0.0 else 1.0 - after.toDouble / before
      PartitionCompaction(p, before, after, compacted = dirty >= minDirtyRatio)
    }
    val chosen = report.filter(_.compacted).map(_.partition).toSet
    if (chosen.isEmpty) return report

    // Pass 2 — survivors of the chosen partitions: latest record per
    // (partition, key) — dropped entirely when that latest record is a
    // tombstone — and null-key records carried through untouched (a
    // keyless tombstone deletes nothing, as in Kafka).
    val survivors = keyed
      .where(col("partition").isInCollection(chosen))
      .where(col("k").isNotNull)
      .groupBy("partition", "k")
      .agg(max_by(struct(col("offset"), col("value"), col("tomb")),
        col("offset")).as("r"))
      .where(!col("r.tomb"))
      .select(col("partition"), col("r.offset").as("offset"), col("r.value").as("value"))
      .unionByName(
        keyed.where(col("partition").isInCollection(chosen))
          .where(col("k").isNull)
          .select("partition", "offset", "value"))

    // Materialize survivors ONCE before the rewrite loop: without this,
    // every `survivors.where(partition === p)` job below would re-scan
    // and re-aggregate the FULL log (the groupBy is not pruned by the
    // later partition filter), making the cost 1 + |chosen| scans
    // instead of the documented two. The cached set is |surviving keys|
    // rows — the compacted size, by definition small relative to the
    // dirty log.
    val survivorsMat = survivors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    survivorsMat.count() // the one rewrite-side scan of the log

    val f = KafkaLog.fs(dir)
    try parts.filter(t => chosen.contains(t._1)).foreach { case (p, oldSegs) =>
      // One sorted segment for this partition, formatted exactly like
      // the fixture writer / sink (offset TAB unchunked-base64(value)).
      val scratch = s"$dir/p=$p/.compact_scratch"
      survivorsMat.where(col("partition") === p)
        .select(col("offset"),
          concat_ws("\t", col("offset"),
            translate(base64(encode(coalesce(col("value"), lit("")), "UTF-8")),
              "\r\n", "")).as("line"))
        .repartition(1).sortWithinPartitions("offset")
        .select("line")
        .write.mode("overwrite").text(scratch)
      val partFile = f.listStatus(new Path(scratch)).toSeq
        .map(_.getPath)
        .find(q => q.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"kafkalog compact: no part file under $scratch"))
      val end = KafkaLog.endOffset(Seq(partFile.toString))
      val finalName = f"c$end%020d"
      val tmp = new Path(s"$dir/p=$p/.$finalName.tmp")
      f.delete(tmp, false)
      require(f.rename(partFile, tmp), s"kafkalog compact: could not stage $tmp")
      f.delete(new Path(scratch), true)

      // Steps 2-5 of the swap protocol (see object doc).
      val oldNames = oldSegs.map(s => new Path(s).getName)
      writeManifest(f, new Path(s"$dir/p=$p/$ManifestName"),
        tmp.getName, finalName, oldNames)
      oldNames.foreach(n => f.delete(new Path(s"$dir/p=$p/$n"), false))
      require(f.rename(tmp, new Path(s"$dir/p=$p/$finalName")),
        s"kafkalog compact: could not publish $finalName in p=$p")
      f.delete(new Path(s"$dir/p=$p/$ManifestName"), false)
    } finally survivorsMat.unpersist(blocking = false)
    report
  }

  /** Complete (or discard) any swap a crashed compaction left behind.
    * Idempotent; called automatically by [[compact]]. Manifest states:
    *  - tmp still present → the deletes may be partial: re-delete the
    *    listed old segments, rename tmp to its final name, drop the
    *    manifest (crash between steps 2 and 4);
    *  - tmp gone, final present → crash between 4 and 5: re-delete any
    *    listed stragglers, drop the manifest;
    *  - neither present or manifest unreadable → a manifest written but
    *    never acted on (or torn mid-write): drop the manifest and any
    *    staged `.c*.tmp` files — the old segments are all still visible,
    *    so the log is simply uncompacted.
    */
  def recover(dir: String): Unit = {
    val f = KafkaLog.fs(dir)
    val base = new Path(dir)
    if (!f.exists(base)) return
    f.listStatus(base).toSeq.filter(_.isDirectory).foreach { st =>
      val pdir = st.getPath
      val mf = new Path(pdir, ManifestName)
      if (f.exists(mf)) {
        readManifest(f, mf) match {
          case Some((tmpName, finalName, olds)) =>
            val tmp = new Path(pdir, tmpName)
            val fin = new Path(pdir, finalName)
            if (f.exists(tmp)) {
              olds.foreach(n => f.delete(new Path(pdir, n), false))
              if (f.exists(fin)) f.delete(tmp, false)
              else require(f.rename(tmp, fin),
                s"kafkalog recover: could not publish $fin")
            } else if (f.exists(fin)) {
              olds.foreach(n => f.delete(new Path(pdir, n), false))
            }
            f.delete(mf, false)
          case None =>
            f.listStatus(pdir).toSeq.map(_.getPath)
              .filter(q => q.getName.startsWith(".c") && q.getName.endsWith(".tmp"))
              .foreach(q => f.delete(q, false))
            f.delete(mf, false)
        }
      }
    }
  }

  /** Manifest format: 3+ lines — tmp name, final name, then one old
    * segment name per line. A parse failure (torn write) reads as None,
    * which [[recover]] treats as "never acted on".
    */
  private def writeManifest(f: org.apache.hadoop.fs.FileSystem, path: Path,
      tmpName: String, finalName: String, olds: Seq[String]): Unit = {
    val out = f.create(path, true)
    try out.write(((tmpName +: finalName +: olds).mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readManifest(f: org.apache.hadoop.fs.FileSystem,
      path: Path): Option[(String, String, Seq[String])] = {
    try {
      val in = f.open(path)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").toSeq.filter(_.nonEmpty)
      if (lines.length >= 2 && lines.head.startsWith(".") &&
          lines.head.endsWith(".tmp"))
        Some((lines.head, lines(1), lines.drop(2)))
      else None
    } catch { case _: Exception => None }
  }
}
