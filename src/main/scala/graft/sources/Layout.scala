package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout writers — the table-design half of the 100 TB story
  * (SURVEY.md build rule "repartition/bucketing for co-located joins").
  *
  * Bucketing pre-shuffles a table ONCE at write time: both sides of a
  * recurring equi-join written with the same bucket count and key join
  * with ZERO exchanges forever after (LayoutSpec asserts the plan). At
  * 100 TB this converts every fact-to-fact join from a full-network
  * shuffle into a per-bucket local merge; the write-side cost is paid
  * once and amortized over every downstream query.
  *
  * Partitioned writes give coarse-grained pruning instead: a filter on
  * the partition column skips whole directories at file-listing time
  * (PartitionFilters in the scan, zero I/O for skipped values) — right
  * for low-cardinality columns like date/type; bucketing is right for
  * high-cardinality join keys.
  */
object Layout {

  /** Write `df` as a bucketed+sorted managed parquet table. Bucket count
    * should match the downstream join fan-in (and the other table's).
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Write `df` partitioned by directory on `partCols` (Hive layout). */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Overwrite ONLY the partitions present in `df`, leaving every other
    * partition directory untouched (dynamic partition overwrite). This is
    * the backfill primitive at scale: re-deriving one bad day of a
    * date-partitioned 100 TB table must rewrite that day's directory, not
    * truncate the table the way static-overwrite-with-partitionBy does.
    * The session conf is flipped only around this write and restored.
    */
  def overwritePartitions(df: DataFrame, path: String, partCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Cluster rows inside each output file on `sortCols` (without a global
    * sort): parquet row-group min/max stats then prune on those columns
    * at read time even when the value isn't a directory partition.
    */
  def writeClustered(df: DataFrame, path: String, sortCols: Seq[String],
      files: Int = 8): Unit =
    df.repartition(files)
      .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-ORDER clustered write: scale two columns to 16-bit ranks over
    * their [min, max] (one cheap stats pass — at 100 TB use
    * approx-quantile cutoffs instead of min/max to resist outliers),
    * interleave into a Morton key, range-partition + sort files on it.
    * Files then stay locally dense in BOTH dimensions, so row-group
    * min/max stats prune on either predicate — what a single-column
    * sort fundamentally can't give the second column.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    val stats = df.agg(
      min(colA).cast("double"), max(colA).cast("double"),
      min(colB).cast("double"), max(colB).cast("double")).head()
    def rank(c: String, lo: Double, hi: Double) =
      (((col(c).cast("double") - lo) / math.max(hi - lo, 1e-12)) * 65535)
        .cast("int")
    df.withColumn("__za", rank(colA, stats.getDouble(0), stats.getDouble(1)))
      .withColumn("__zb", rank(colB, stats.getDouble(2), stats.getDouble(3)))
      .withColumn("__z", graft.functions.InterleaveBits.z_interleave("__za", "__zb"))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__za", "__zb", "__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Compact a parquet directory's small files to ~`targetBytes` files
    * (the maintenance job every streaming/partitioned sink needs: a
    * micro-batch sink writes one file per trigger per partition, and a
    * year of 1-minute triggers is half a million tiny files whose
    * listing + open overhead dominates scans). Sizing comes from the
    * directory's actual on-disk bytes; rewrite is one coalesce — no
    * shuffle — into a temp dir, then an atomic-enough swap via rename.
    * Returns (filesBefore, filesAfter).
    */
  /** Targeted DELETE with file-level pruning: remove the rows matching
    * `pred` by rewriting ONLY the parquet files that contain such rows
    * (the right-to-erasure / bad-record purge primitive). Two phases:
    *
    *  1. prune — scan `_metadata.file_path` under the predicate; parquet
    *     row-group stats let the pushed-down predicate skip clean files'
    *     data pages, and the collected hit-list is metadata-sized (file
    *     paths, not rows);
    *  2. rewrite — re-read just the hit files, keep rows where the
    *     predicate is NOT true (false OR null survives — SQL DELETE
    *     semantics), write them aside, then swap: unlink the hit files
    *     and move the rewrites in.
    *
    * At 100 TB the cost is proportional to the files the target rows
    * live in, not the table: deleting one user from a table range-
    * laid-out on user keys touches a handful of files (LayoutSpec
    * asserts exactly this). The swap is per-file rename, not atomic
    * across files — same exposure class as [[compact]]; a reader racing
    * the swap can see a hit file already gone before its rewrite lands.
    * Returns (filesRewritten, filesTotal, rowsDeleted).
    */
  def deleteWhere(spark: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column): (Int, Int, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    def parquetFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val all = parquetFiles(new java.io.File(dir))
    def localPath(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val hit = spark.read.parquet(dir)
      .where(pred)
      .select(col("_metadata.file_path").as("f"))
      .distinct().collect().map(r => localPath(r.getString(0))).toSeq.sorted
    if (hit.isEmpty) return (0, all.size, 0L)
    val hitDf = spark.read.parquet(hit: _*)
    val rowsBefore = hitDf.count()
    val tmp = dir + ".delete_tmp"
    hitDf.where(not(coalesce(pred, lit(false))))
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val rowsKept = spark.read.parquet(tmp).count()
    hit.foreach { p =>
      val f = new java.io.File(p)
      require(f.delete(), s"could not unlink $p")
    }
    val tmpF = new java.io.File(tmp)
    parquetFiles(tmpF).foreach { f =>
      require(f.renameTo(new java.io.File(dir, "del-" + f.getName)),
        s"could not move ${f.getName} into $dir")
    }
    graft.Scratch.deleteTree(tmpF)
    (hit.size, all.size, rowsBefore - rowsKept)
  }

  /** Build a secondary (key → file) inverted index next to a parquet
    * directory: one row per DISTINCT (key, file) pair. Point lookups on
    * a non-layout column then open only the files that contain the key
    * ([[lookupViaIndex]]), where row-group min/max stats are useless
    * (a hash-distributed key spans every file's min/max range).
    *
    * Size at 100 TB: Σ per-file distinct keys — orders of magnitude
    * under the data, and itself a parquet table, so it shards/prunes
    * like any other (production would partition it by key hash). The
    * index is a snapshot: rebuild after rewrites (compact/deleteWhere),
    * like any secondary index.
    */
  def buildFileIndex(spark: SparkSession, dir: String, keyCol: String): String = {
    val idxDir = s"$dir.idx_$keyCol"
    spark.read.parquet(dir)
      .select(org.apache.spark.sql.functions.col(keyCol).as("k"),
        org.apache.spark.sql.functions.col("_metadata.file_path").as("f"))
      .distinct()
      .write.mode(SaveMode.Overwrite).parquet(idxDir)
    idxDir
  }

  /** Point lookup through [[buildFileIndex]]'s index: resolve the files
    * holding `value` (a metadata-sized read), then scan ONLY those. An
    * absent key reads zero data files.
    */
  def lookupViaIndex(spark: SparkSession, dir: String, keyCol: String,
      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def localPath(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val files = spark.read.parquet(s"$dir.idx_$keyCol")
      .where(col("k") === lit(value)).select("f")
      .distinct().collect().map(r => localPath(r.getString(0)))
    if (files.isEmpty)
      spark.read.parquet(dir).where(lit(false)) // schema-only, no file reads at run
    else spark.read.parquet(files.toIndexedSeq: _*).where(col(keyCol) === lit(value))
  }

  def compact(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    def parquetFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val before = parquetFiles(new java.io.File(dir))
    val totalBytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = dir + ".compact_tmp"
    spark.read.parquet(dir).coalesce(nOut)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val dirF = new java.io.File(dir)
    val bak = new java.io.File(dir + ".compact_old")
    require(dirF.renameTo(bak), s"could not move $dir aside")
    require(new java.io.File(tmp).renameTo(dirF), s"could not move $tmp into place")
    graft.Scratch.deleteTree(bak)
    (before.size, parquetFiles(dirF).size)
  }
}
