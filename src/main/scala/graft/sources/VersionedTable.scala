package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets

/** VERSIONED TABLE — a minimal manifest-based table format (the
  * lakehouse commit core, scaled down to its load-bearing parts):
  * immutable data files plus an ordered chain of manifest files, giving
  * atomic commits, snapshot-isolated readers, TIME TRAVEL to any
  * retained version, append/overwrite semantics, optimistic
  * concurrency, and a vacuum that cannot break retained snapshots.
  *
  * Layout under the table root:
  * {{{
  *   data/<uuid>-part-*.parquet     immutable, never rewritten
  *   _manifests/v<20-digit>        one line per data file (relative path)
  *   _manifests/.v<...>.tmp        staged manifest (invisible)
  * }}}
  *
  * COMMIT PROTOCOL (the crash-safety argument, same discipline as
  * `kafkalog`'s compaction swap):
  *
  *  1. write the new data files under `data/` with a fresh UUID prefix —
  *     unreferenced files are INVISIBLE to every reader (readers only
  *     open files a manifest names);
  *  2. stage the manifest as dot-prefixed `.v<N>.<writer>.tmp`
  *     (listings skip it; the writer-unique suffix keeps two racers to
  *     the same N from overwriting each other's staged bytes);
  *  3. RENAME tmp → `v<N>` — the single atomicity point. Rename onto an
  *     existing destination FAILS, so two writers racing to version N
  *     cannot both win: the loser re-reads the now-longer chain, rebases
  *     (append = parent files ∪ its files; overwrite = its files) and
  *     retries at N+1 — optimistic concurrency with writer-side rebase.
  *
  * A crash before 3 leaves only invisible garbage (orphan data files and
  * a tmp manifest), cleaned by the next [[vacuum]]; a crash after 3 IS a
  * committed version. Readers never lock: [[read]] resolves the manifest
  * chain once and reads an immutable file list — a concurrent commit
  * cannot change what a running query sees (snapshot isolation).
  *
  * Scale stance: the manifest is a FILE LIST, so planning cost is
  * O(files in the version), not O(files ever written); data files are
  * normal parquet, so pushdown/pruning/bucketing all apply unchanged.
  * What the real formats add beyond this core — column stats per file
  * for manifest-level skipping, partition transforms, compaction of
  * manifest chains — composes on top of exactly this commit protocol.
  */
object VersionedTable {

  private def fs(path: String): FileSystem =
    new Path(path).getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def manifestDir(dir: String) = new Path(dir, "_manifests")
  private def dataDir(dir: String) = new Path(dir, "data")

  private def versionName(v: Long) = f"v$v%020d"

  /** Committed versions, ascending. A manifest name whose file is
    * EMPTY is an IN-FLIGHT CLAIM (see [[stageAndSwap]] — content lands
    * atomically via rename, so a claim is empty until complete), not a
    * version; non-empty sentinel-less files are complete LEGACY
    * manifests from the pre-sentinel protocol (see [[isComplete]]) —
    * and by construction at
    * most the highest name can be a claim (writers only ever claim
    * latestComplete+1, and crash recovery rewrites a stale claim in
    * place instead of skipping past it), so completeness costs one
    * small read of the tip per listing, not a scan of the chain.
    */
  def versions(dir: String): Seq[Long] = {
    val f = fs(dir)
    val md = manifestDir(dir)
    if (!f.exists(md)) Seq.empty
    else {
      val named = f.listStatus(md).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.length == 21)
        .map(_.drop(1).toLong).sorted
      if (named.nonEmpty && !isComplete(f, dir, named.last)) named.init
      else named
    }
  }

  def latestVersion(dir: String): Option[Long] = versions(dir).lastOption

  private def readManifest(f: FileSystem, dir: String, v: Long): Seq[String] = {
    val in = f.open(new Path(manifestDir(dir), versionName(v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Manifest lines that name data files — streaming commits prepend a
    * `txn:` replay-identity line and every complete manifest ends with
    * a `commit:` sentinel; every file-list consumer skips both.
    */
  private def dataLines(lines: Seq[String]): Seq[String] =
    lines.filterNot(l => l.startsWith("txn:") || l.startsWith(CommitPrefix))

  /** Read the table at `version` (default: latest). Fails with a clear
    * message for unknown or vacuumed versions. `mergeSchema` reconciles
    * files of different widths by name (schema evolution: columns a file
    * predates surface as NULL) — an extra footer pass at planning time,
    * so it is opt-in; a homogeneous version reads with the default
    * single-footer inference.
    */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"versioned table $dir has no committed versions")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})")
    val files = dataLines(readManifest(fs(dir), dir, v))
      .map(line => s"$dir/${line.split('\t').head}")
    require(files.nonEmpty, s"version $v of $dir names no files")
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(files: _*)
  }

  /** One (version, file count) row per retained version. */
  def history(dir: String): Seq[(Long, Int)] =
    versions(dir).map(v => (v, dataLines(readManifest(fs(dir), dir, v)).size))

  /** Stage `df`'s rows as new immutable data files; returns their
    * table-relative paths. Files are invisible until a manifest names
    * them.
    */
  private def stageData(df: DataFrame, dir: String): Seq[String] = {
    val f = fs(dir)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val scratch = new Path(dir, s".stage_$uuid")
    df.write.mode("overwrite").parquet(scratch.toString)
    f.mkdirs(dataDir(dir))
    val moved = f.listStatus(scratch).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .map { p =>
        val tgt = new Path(dataDir(dir), s"$uuid-${p.getName}")
        require(f.rename(p, tgt), s"versioned commit: could not stage $tgt")
        s"data/${tgt.getName}"
      }
    f.delete(scratch, true)
    moved
  }

  /** Atomically publish `files` (+ parent files when appending) as the
    * next version; retries under concurrent committers by rebasing on
    * the new tip.
    */
  private def publish(dir: String, files: Seq[String], append: Boolean): Long = {
    val f = fs(dir)
    f.mkdirs(manifestDir(dir))
    var attempt = 0
    while (attempt < 50) {
      val parent = latestVersion(dir)
      val v = parent.getOrElse(0L) + 1
      val all =
        if (append)
          parent.map(p => dataLines(readManifest(f, dir, p))).getOrElse(Nil) ++ files
        else files
      // the atomicity point: an atomic EXCLUSIVE CREATE of v<N> (a
      // concurrent writer claiming it first wins) → loop rebases on the
      // new chain tip.
      if (stageAndSwap(f, dir, v, all)) return v
      attempt += 1
    }
    throw new IllegalStateException(
      s"versioned commit: lost the publish race 50 times at $dir")
  }

  /** Commit sentinel: the LAST line of every COMPLETE manifest,
    * carrying the committing writer's unique id. A manifest file
    * without it is an in-flight (or crashed) claim, invisible to
    * readers via [[versions]] — unless it qualifies as a LEGACY
    * manifest (see [[isComplete]]).
    */
  private val CommitPrefix = "commit:"

  /** Grace window for claim polling, crashed-writer takeover and
    * legacy-manifest aging. Overridable for tests via the
    * `graft.versioned.grace.ms` system property.
    */
  private def graceNanos: Long =
    sys.props.get("graft.versioned.grace.ms").map(_.toLong * 1000000L)
      .getOrElse(10_000_000_000L)

  /** A version is complete iff its manifest carries the trailing
    * [[CommitPrefix]] sentinel — OR it is a LEGACY manifest: non-empty
    * and sentinel-less. The legacy rule is EXACT, not time-based: a
    * claim file is created EMPTY and only ever becomes non-empty via
    * the all-or-nothing rename in [[stageAndSwap]]'s writeAndVerify (a
    * torn, partially-written manifest cannot exist on the new
    * protocol), so any non-empty sentinel-less file can only be a
    * manifest committed by the pre-sentinel protocol (stage + atomic
    * rename — also published fully written). Without this rule a
    * pre-existing table's tip would be hidden and, worse, the next
    * committer's crash takeover would rewrite it in place, silently
    * discarding the committed file list. The r13 form of this rule
    * aged sentinel-less files past the grace window into "complete",
    * which turned a (then-possible) torn in-place fill into a readable
    * version naming a prefix of the intended files and was
    * clock-skew-sensitive — the r13 advisor's durability finding; the
    * atomic fill removes the torn-file class and with it the need for
    * the mtime heuristic.
    *
    * DEPLOYMENT CONSTRAINT (r14 advisor): the exactness argument holds
    * only when every live writer runs the tmp+rename fill protocol. A
    * pre-sentinel binary writing the SAME table concurrently fills the
    * claim IN PLACE, so its torn crash residue is a non-empty
    * sentinel-less file this rule reads as committed. Old and new
    * binaries must therefore not write one table concurrently during a
    * rolling upgrade (readers are unaffected); reintroduce an age fence
    * here only if that constraint is ever relaxed.
    */
  private def isComplete(f: FileSystem, dir: String, v: Long): Boolean = {
    try readManifest(f, dir, v).nonEmpty
    catch { case _: java.io.IOException => false }
  }

  /** Commit `lines` as version N — true iff this writer won N.
    *
    * Winner determination is an atomic EXCLUSIVE CREATE of v<N> itself
    * ([[claim]]). The previous protocol (stage tmp, rename onto v<N>,
    * treat rename failure as a lost race) was NOT atomic on the local
    * FS: `RawLocalFileSystem` renames via POSIX rename(2), which
    * silently REPLACES an existing destination (and its copy fallback
    * overwrites too), so two writers racing the check-to-rename window
    * could both return true for the same version, discarding one
    * committed manifest. O_EXCL creation cannot be raced.
    *
    * The claim file is empty until its owner renames the fully-written
    * payload over it ([[atomicReplace]] — all-or-nothing in content),
    * so completeness is simply a non-empty manifest (see
    * [[isComplete]]); readers ([[versions]]) skip an empty tip. A loser polls the
    * claim to completeness (a fair loss — the owner is normally
    * microseconds from its sentinel) and only after a long grace window
    * assumes a crashed writer. Takeover itself is SERIALIZED through a
    * second exclusive-create marker (`v<N>.takeover`): only the marker
    * winner may rewrite the claim, so two losers that both pass the
    * grace window cannot both rewrite and both re-read their own uid in
    * write-write-read-read order (the collision the bare uid re-read
    * cannot adjudicate). The marker winner re-checks completeness after
    * winning — a marker won late proves nothing about a takeover that
    * already finished — and marker losers wait the recoverer out,
    * aging out an abandoned marker so a crashed RECOVERER doesn't wedge
    * the version forever. (A writer stalled mid-write for longer than
    * the grace window AND past its own re-read can still collide with
    * the single marker-holding recoverer — the standard fencing gap
    * every manifest-file format has on rename-replacing filesystems;
    * real deployments put the claim on a store with atomic create,
    * which HDFS's namenode provides.)
    */
  private def stageAndSwap(f: FileSystem, dir: String, v: Long,
      lines: Seq[String]): Boolean = {
    val dest = new Path(manifestDir(dir), versionName(v))
    f.mkdirs(dest.getParent) // O_EXCL create does not make parents
    val uid = java.util.UUID.randomUUID().toString
    val payload = (lines :+ s"$CommitPrefix$uid").mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    // The fill is ATOMIC IN CONTENT: the O_EXCL claim serializes
    // ownership, but the payload lands via write-to-tmp + rename-replace
    // over the (empty) claim, so a writer or recoverer that crashes
    // mid-payload-write leaves its bytes in a .fill tmp, never a torn
    // manifest — the r13 advisor's durability finding (an in-place
    // f.create(dest, true) fill could crash mid-write, and the torn
    // sentinel-less file aged into a readable "legacy" version whose
    // line list could be a PREFIX of the intended files, silently
    // dropping committed parents on appends). Rename-replace is safe
    // exactly because ownership is already serialized: only the claim
    // winner (or the single marker-holding recoverer) ever renames onto
    // this destination.
    def writeAndVerify(): Boolean = {
      val tmp = new Path(manifestDir(dir), versionName(v) + s".fill-$uid")
      val out = f.create(tmp, true)
      try out.write(payload) finally out.close()
      // A vanished tmp is a lost race, not a crash: vacuum deletes
      // .fill-* tmps older than the grace window (they normally live
      // microseconds), so a writer stalled past grace between the tmp
      // write above and this rename finds its source gone. Before
      // vacuum touched fill tmps this was impossible; now it must
      // resolve like any other loss — return false so publish's retry
      // loop re-reads the tip and re-stages — rather than throwing
      // NoSuchFileException out of append/publish (r15 advisor).
      try atomicReplace(f, tmp, dest)
      catch {
        case e @ (_: java.nio.file.NoSuchFileException |
                  _: java.io.FileNotFoundException) =>
          // Only a VANISHED TMP is the lost race; on the FileContext
          // path the same exception types can signal other faults
          // (e.g. a missing destination parent), and re-labeling one
          // as contention would loop publish through 50 retries — each
          // paying a grace-window poll once the orphaned claim exists —
          // and surface as a misleading "lost the publish race" (r16
          // advisor). Rethrow when the tmp is still there.
          if (f.exists(tmp)) throw e
          return false
      }
      try readManifest(f, dir, v).lastOption.contains(s"$CommitPrefix$uid")
      catch { case _: java.io.IOException => false }
    }
    if (claim(f, dest)) return writeAndVerify()
    // lost the claim: poll the owner to completeness
    val deadline = System.nanoTime() + graceNanos
    var live = true
    while (live && System.nanoTime() < deadline) {
      if (isComplete(f, dir, v)) return false
      Thread.sleep(5); live = f.exists(dest)
    }
    if (!live) return claim(f, dest) && writeAndVerify() // claim vanished; re-race
    if (isComplete(f, dir, v)) return false
    // crashed-writer takeover, serialized through a second O_EXCL create
    val marker = new Path(manifestDir(dir), versionName(v) + ".takeover")
    if (claim(f, marker)) {
      // try/finally: an exception out of the tmp write or rename must
      // still remove the marker its creator owns — a leaked marker
      // wedges version N for every racer until it ages out (the r13
      // advisor's marker-leak finding)
      try {
        if (isComplete(f, dir, v)) false
        else writeAndVerify()
      } finally f.delete(marker, false)
    } else {
      // another recoverer holds the marker: wait it out like a loser
      val d2 = System.nanoTime() + graceNanos
      while (System.nanoTime() < d2) {
        if (isComplete(f, dir, v)) return false
        Thread.sleep(5)
      }
      // the recoverer crashed too: age its marker out; publish() retries
      try {
        val age = System.currentTimeMillis() -
          f.getFileStatus(marker).getModificationTime
        if (age > graceNanos / 1000000L) f.delete(marker, false)
      } catch { case _: java.io.IOException => }
      false
    }
  }

  /** Atomic exclusive create of `dest` — true iff this caller created
    * it. The local FS gets true O_EXCL via `File.createNewFile`
    * (Hadoop's `create(.., overwrite=false)` is only check-then-act
    * there); other filesystems get `create(dest, false)`, which HDFS
    * makes atomic at the namenode.
    */
  /** Atomic rename-replace of `dest` with `tmp`. The local FS gets
    * POSIX rename(2) semantics via NIO ATOMIC_MOVE (Hadoop's
    * `FileSystem.rename` has no overwrite mode); other filesystems go
    * through `FileContext.rename(…, Options.Rename.OVERWRITE)`, which
    * HDFS makes atomic at the namenode. Callers must already own the
    * destination (claim winner or marker-holding recoverer) — the
    * rename provides torn-write-freedom, not ownership.
    */
  private def atomicReplace(f: FileSystem, tmp: Path, dest: Path): Unit = f match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    case other =>
      org.apache.hadoop.fs.FileContext.getFileContext(other.getUri, other.getConf)
        .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def claim(f: FileSystem, dest: Path): Boolean = f match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try new java.io.File(dest.toUri.getPath).createNewFile()
      catch { case _: java.io.IOException => false }
    case other =>
      try { other.create(dest, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  /** APPEND commit: new version = parent's files + df's files. */
  def append(df: DataFrame, dir: String): Long =
    publish(dir, stageData(df, dir), append = true)

  /** Thrown when a [[replaceFiles]] commit loses a WRITE-WRITE conflict:
    * a concurrent commit already removed (rewrote or deleted) one of the
    * files this transaction planned to replace, so its staged output was
    * derived from data that is no longer current. The caller must
    * re-read the new snapshot and redo the work — retrying the same
    * staged files would silently resurrect superseded rows.
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Latest version and the table-relative data files it names. The
    * file list is a replace-transaction's read set: pass the subset it
    * rewrites to [[replaceFiles]] as `removed`.
    */
  def currentSnapshot(dir: String): (Long, Seq[String]) = {
    val v = latestVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"versioned table $dir has no committed versions"))
    (v, dataLines(readManifest(fs(dir), dir, v)).map(_.split('\t').head))
  }

  /** REPLACE-FILES commit with OPTIMISTIC-CONCURRENCY CONFLICT
    * DETECTION — the file-granular transaction under compaction, MERGE
    * and z-order. The writer read some snapshot, derived `df` from the
    * files in `removed`, and commits (tip − removed + df's files).
    *
    * Conflict rule (checked on EVERY publish attempt, so a rename-race
    * rebase re-validates against the new tip): all of `removed` must
    * still be named by the CURRENT tip manifest. Two concurrent
    * replaces over DISJOINT file sets therefore both commit — the loser
    * of the rename race rebases onto the winner's manifest and succeeds
    * at N+1 — while OVERLAPPING replaces abort with
    * [[CommitConflictException]]: the survivor of the overlap already
    * rewrote the loser's inputs, and blindly rebasing would re-add rows
    * the winner superseded. Appends never conflict with anything
    * (their read set is empty). This is exactly the serializable-commit
    * discipline of the production table formats; at 100 TB it is what
    * lets a compactor, a MERGE writer and N streaming appenders share
    * one table without a table lock. An aborted transaction's staged
    * files are invisible orphans; [[vacuum]] reclaims them.
    */
  def replaceFiles(df: DataFrame, dir: String, removed: Seq[String]): Long = {
    require(removed.nonEmpty, "replaceFiles: empty removed set — use append")
    commitReplace(dir, removed, stageData(df, dir))
  }

  private def commitReplace(dir: String, removed: Seq[String],
      added: Seq[String]): Long = {
    val f = fs(dir)
    val removedSet = removed.toSet
    var attempt = 0
    while (attempt < 50) {
      val parent = latestVersion(dir).getOrElse(throw new IllegalArgumentException(
        s"versioned table $dir has no committed versions"))
      val tipLines = dataLines(readManifest(f, dir, parent))
      val gone = removed.filterNot(tipLines.map(_.split('\t').head).toSet)
      if (gone.nonEmpty)
        throw new CommitConflictException(
          s"write-write conflict at $dir v$parent: concurrent commit already " +
            s"replaced ${gone.size}/${removed.size} input file(s) " +
            s"(first: ${gone.head}); re-read the snapshot and redo the work")
      val all = tipLines.filterNot(l => removedSet(l.split('\t').head)) ++ added
      if (stageAndSwap(f, dir, parent + 1, all)) return parent + 1
      attempt += 1
    }
    throw new IllegalStateException(
      s"versioned replaceFiles: lost the publish race 50 times at $dir")
  }

  // ---- manifest-level file statistics & skipping ----

  /** Manifest entry with per-file [min,max] of one stats column:
    * `path\tcol\tmin\tmax` (stats-less lines stay plain paths — the two
    * forms coexist in one chain, and skipping treats a stats-less file
    * as always-overlapping). Values are rendered via `CAST(x AS STRING)`
    * of an ORDER-PRESERVING image (see [[appendWithStats]]).
    */
  private def parseEntry(line: String): (String, Option[(String, String, String)]) =
    line.split('\t') match {
      case Array(p, c, mn, mx) => (p, Some((c, mn, mx)))
      case other => (other.head, None)
    }

  /** APPEND with per-file min/max stats on `statsCol` recorded in the
    * manifest — the lakehouse skipping core: a reader with a range
    * predicate plans only the files whose [min,max] overlaps it, so a
    * time-range query over years of commits opens days, not the table.
    * The caller should range-partition `df` by `statsCol` before
    * committing (tight per-file ranges are what make skipping bite —
    * same discipline as clustering keys in the real formats).
    *
    * `statsCol` must be a column whose STRING rendering preserves its
    * order (zero-padded numerics, ISO dates/timestamps) — the manifest
    * stores strings and [[readPruned]] compares them lexicographically.
    */
  def appendWithStats(df: DataFrame, dir: String, statsCol: String): Long =
    publish(dir, stageWithStats(df, dir, statsCol), append = true)

  /** Stage `df` and return full MANIFEST LINES carrying per-file
    * [min,max] of `statsCol` — the shared staging step under
    * [[appendWithStats]] and [[mergePruned]] (a pruned merge must leave
    * its rewritten files with stats, or the NEXT merge degenerates to a
    * full rewrite). One metadata-plane aggregate over the staged files,
    * O(files) collected.
    */
  private def stageWithStats(df: DataFrame, dir: String,
      statsCol: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val files = stageData(df, dir)
    val spark = df.sparkSession
    val byFile = spark.read.parquet(files.map(rel => s"$dir/$rel"): _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(statsCol).cast("string")).as("mn"),
        max(col(statsCol).cast("string")).as("mx"))
      .collect()
      .map(r => (new Path(r.getString(0)).getName, (r.getString(1), r.getString(2))))
      .toMap
    files.map { rel =>
      byFile.get(new Path(rel).getName) match {
        case Some((mn, mx)) => s"$rel\t$statsCol\t$mn\t$mx"
        case None => rel // an empty file has no stats rows; never skipped
      }
    }
  }

  /** Read `version` with MANIFEST-LEVEL SKIPPING for the predicate
    * `statsCol BETWEEN lo AND hi` (string images, inclusive): only
    * files whose recorded [min,max] overlaps the range are planned;
    * the residual filter is applied on top, so skipping is purely a
    * performance contract and can never change results. Files without
    * stats (or with a different stats column) are conservatively read.
    * Returns the frame plus the (planned, total) file counts so tests
    * and operators can assert skipping actually bit.
    */
  def readPruned(spark: SparkSession, dir: String, version: Option[Long],
      statsCol: String, lo: String, hi: String): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val vs = versions(dir)
    require(vs.nonEmpty, s"versioned table $dir has no committed versions")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})")
    val entries = dataLines(readManifest(fs(dir), dir, v)).map(parseEntry)
    val planned = entries.collect {
      case (p, Some((c, mn, mx))) if c == statsCol && mx >= lo && mn <= hi => p
      case (p, Some((c, _, _))) if c != statsCol => p
      case (p, None) => p
    }
    val df =
      if (planned.isEmpty)
        read(spark, dir, Some(v)).where(org.apache.spark.sql.functions.lit(false))
      else spark.read.parquet(planned.map(rel => s"$dir/$rel"): _*)
    (df.where(col(statsCol).cast("string").between(lo, hi)),
      planned.size, entries.size)
  }

  /** OVERWRITE commit: new version = df's files only; older versions
    * remain time-travelable until vacuumed.
    */
  def overwrite(df: DataFrame, dir: String): Long =
    publish(dir, stageData(df, dir), append = false)

  // ---- tagged manifest entries: multi-column stats + bloom filters ----
  //
  // [[appendWithStats]]'s legacy 4-field form records ONE stats column.
  // The tagged grammar generalizes it: after the path, each field is
  //   S:<b64 col>:<b64 min>:<b64 max>     per-file [min,max] of a column
  //   B:<b64 col>:<numHashes>:<b64 bits>  per-file bloom filter bitset
  // All names/values are base64(UTF-8) so tabs/colons in data can never
  // corrupt the line grammar. Both forms coexist in one chain; every
  // consumer treats a file lacking the annotation it needs as
  // always-planned, so annotations are purely a skipping accelerator
  // and can never change results.

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Parsed manifest entry: per-column [min,max] string images and
    * per-column bloom bitsets. Absent column ⇒ conservatively planned.
    */
  final case class FileMeta(
      path: String,
      stats: Map[String, (String, String)],
      blooms: Map[String, (Int, Array[Byte])])

  private def parseMeta(line: String): FileMeta = {
    val f = line.split('\t')
    def tagged(x: String) = x.startsWith("S:") || x.startsWith("B:")
    if (f.length == 1) FileMeta(f(0), Map.empty, Map.empty)
    else if (f.length == 4 && !tagged(f(1)))
      FileMeta(f(0), Map(f(1) -> ((f(2), f(3)))), Map.empty) // legacy form
    else {
      val stats = Map.newBuilder[String, (String, String)]
      val blooms = Map.newBuilder[String, (Int, Array[Byte])]
      f.tail.foreach { field =>
        field.split(':') match {
          case Array("S", c, mn, mx) => stats += unb64(c) -> ((unb64(mn), unb64(mx)))
          case Array("B", c, k, bits) =>
            blooms += unb64(c) -> ((k.toInt, java.util.Base64.getDecoder.decode(bits)))
          case _ => // unknown annotation kind: ignore (forward compatibility)
        }
      }
      FileMeta(f(0), stats.result(), blooms.result())
    }
  }

  /** Portable per-element bloom bit position, seed `i`: first 32 bits of
    * md5("i:" ++ value) mod m — the same md5-derived hash family the
    * dedup operators use, computable identically in Spark SQL (commit
    * side) and on the JVM driver (probe side).
    */
  private def bloomPosCol(c: org.apache.spark.sql.Column, seed: Int, m: Int) = {
    import org.apache.spark.sql.functions.{concat, conv, lit, md5, pmod, substring}
    pmod(conv(substring(md5(concat(lit(s"$seed:"), c).cast("binary")), 1, 8), 16, 10)
      .cast("long"), lit(m.toLong)).cast("int")
  }

  private def bloomPosLocal(v: String, seed: Int, m: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s"$seed:$v".getBytes(StandardCharsets.UTF_8))
    val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (h % m).toInt
  }

  private def bitSet(bits: Array[Byte], p: Int): Boolean =
    (bits(p >> 3) & (1 << (p & 7))) != 0

  /** Annotate freshly-staged files with tagged stats/bloom entries.
    * Stats columns must have ORDER-PRESERVING string images (zero-padded
    * numerics, ISO dates) — skipping compares the stored strings
    * lexicographically, exactly like [[appendWithStats]]. The stats and
    * bloom passes each read the staged files once; collected results are
    * metadata-sized (|files| rows for stats, ≤ |files|·bloomBits distinct
    * positions for blooms), the same driver-side-bounded class as
    * [[appendWithStats]]'s stats collect.
    */
  private def annotate(spark: SparkSession, dir: String, files: Seq[String],
      statsCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int, bloomHashes: Int): Seq[String] = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return files
    import org.apache.spark.sql.functions.{array, col, collect_list, explode, input_file_name, max, min}
    val df = spark.read.parquet(files.map(rel => s"$dir/$rel"): _*)
    val statsByFile: Map[String, Seq[String]] =
      if (statsCols.isEmpty) Map.empty
      else {
        val aggs = statsCols.flatMap(c => Seq(
          min(col(c).cast("string")).as(s"__mn_$c"),
          max(col(c).cast("string")).as(s"__mx_$c")))
        df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val name = new Path(r.getString(0)).getName
            name -> statsCols.flatMap { c =>
              val mn = r.getAs[String](s"__mn_$c")
              val mx = r.getAs[String](s"__mx_$c")
              if (mn == null || mx == null) None // all-null column: no stats
              else Some(s"S:${b64(c)}:${b64(mn)}:${b64(mx)}")
            }
          }.toMap
      }
    val bloomByFile: Map[String, Seq[String]] =
      if (bloomCols.isEmpty) Map.empty
      else bloomCols.map { c =>
        val positions = (0 until bloomHashes)
          .map(i => bloomPosCol(col(c).cast("string"), i, bloomBits))
        df.where(col(c).isNotNull)
          .select(input_file_name().as("__f"), explode(array(positions: _*)).as("__p"))
          .distinct()
          .groupBy("__f").agg(collect_list(col("__p")).as("__ps"))
          .collect()
          .map { r =>
            val bits = new Array[Byte]((bloomBits + 7) / 8)
            r.getAs[Seq[Int]]("__ps").foreach(p => bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte)
            val name = new Path(r.getString(0)).getName
            name -> s"B:${b64(c)}:$bloomHashes:${java.util.Base64.getEncoder.encodeToString(bits)}"
          }.toMap
      }.foldLeft(Map.empty[String, Seq[String]]) { (acc, m) =>
        (acc.keySet ++ m.keySet).map(k => k -> (acc.getOrElse(k, Nil) ++ m.get(k).toSeq)).toMap
      }
    files.map { rel =>
      val name = new Path(rel).getName
      (rel +: (statsByFile.getOrElse(name, Nil) ++ bloomByFile.getOrElse(name, Nil)))
        .mkString("\t")
    }
  }

  /** APPEND with tagged annotations: per-file [min,max] on each of
    * `statsCols` plus a per-file bloom filter on each of `bloomCols`.
    * Stats serve RANGE skipping ([[readPrunedMulti]]); blooms serve
    * POINT-lookup skipping on high-cardinality keys where every file's
    * [min,max] spans the whole domain and range stats are useless
    * ([[readBloomPruned]]). Size the bloom by expected rows per file:
    * the default 65536 bits / 4 hashes holds ~5k keys per file under 1%
    * false-positive — at 128 MB files scale `bloomBits` with the key
    * density, the manifest cost is bits/8 bytes per file.
    */
  def appendAnnotated(df: DataFrame, dir: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = 65536, bloomHashes: Int = 4): Long = {
    val staged = stageData(df, dir)
    publish(dir, annotate(df.sparkSession, dir, staged, statsCols, bloomCols,
      bloomBits, bloomHashes), append = true)
  }

  /** [[read]] with MULTI-predicate manifest skipping: plan only files
    * whose recorded [min,max] overlaps EVERY `(col, lo, hi)` range
    * (string images, inclusive). Files lacking stats for a predicate
    * column are conservatively planned; the residual filters keep
    * results exact. This is what Z-order clustering feeds: after
    * [[optimizeZorder]], both dimensions are locally dense per file, so
    * a 2-D box prunes on BOTH predicates — a single-column sort can
    * only ever prune its own column. Returns (frame, planned, total).
    */
  def readPrunedMulti(spark: SparkSession, dir: String, version: Option[Long],
      preds: Seq[(String, String, String)]): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val vs = versions(dir)
    require(vs.nonEmpty, s"versioned table $dir has no committed versions")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})")
    val entries = dataLines(readManifest(fs(dir), dir, v)).map(parseMeta)
    val planned = entries.filter(e => preds.forall { case (c, lo, hi) =>
      e.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }).map(_.path)
    val base =
      if (planned.isEmpty)
        read(spark, dir, Some(v)).where(org.apache.spark.sql.functions.lit(false))
      else spark.read.parquet(planned.map(rel => s"$dir/$rel"): _*)
    val df = preds.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.where(col(c).cast("string").between(lo, hi))
    }
    (df, planned.size, entries.size)
  }

  /** POINT-lookup read through per-file bloom filters: plan only files
    * whose bloom on `keyCol` MAY contain at least one of `values`
    * (no-false-negative guarantee: a file holding a sought key is always
    * planned; false positives only cost extra planned files, and the
    * residual IN-filter keeps results exact). Files without a bloom on
    * `keyCol` are conservatively planned. Returns (frame, planned,
    * total). At 100 TB this is the manifest-level answer to "fetch one
    * document by id" on an unclustered key — open a handful of files,
    * not the table, before any parquet footer is read.
    */
  def readBloomPruned(spark: SparkSession, dir: String, version: Option[Long],
      keyCol: String, values: Seq[String]): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val vs = versions(dir)
    require(vs.nonEmpty, s"versioned table $dir has no committed versions")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})")
    val entries = dataLines(readManifest(fs(dir), dir, v)).map(parseMeta)
    val planned = entries.filter(e => e.blooms.get(keyCol).forall {
      case (k, bits) =>
        val m = bits.length * 8
        values.exists(vv => (0 until k).forall(i => bitSet(bits, bloomPosLocal(vv, i, m))))
    }).map(_.path)
    val base =
      if (planned.isEmpty)
        read(spark, dir, Some(v)).where(org.apache.spark.sql.functions.lit(false))
      else spark.read.parquet(planned.map(rel => s"$dir/$rel"): _*)
    (base.where(col(keyCol).cast("string").isin(values: _*)), planned.size, entries.size)
  }

  // ---- layout maintenance as atomic commits ----

  /** OPTIMIZE (bin-pack): rewrite the latest version's files into
    * ~`targetBytes` output files and commit the rewrite as a NEW
    * version — rows unchanged, old version still time-travelable, and
    * readers racing the optimize keep their snapshot (unlike an
    * in-place directory swap, which has a visibility window). The
    * rewrite is a coalesce — no shuffle; `statsCols` re-records
    * per-file [min,max] for the compacted files (compaction merges
    * ranges, so stale stats cannot be carried over). This is the
    * maintenance job every streaming sink needs: one file per trigger
    * per partition turns a year of minutely commits into ~half a
    * million tiny files whose open/list overhead dominates scans.
    * Returns (newVersion, filesBefore, filesAfter).
    */
  def optimizeBinPack(spark: SparkSession, dir: String, targetBytes: Long,
      statsCols: Seq[String] = Nil): (Long, Int, Int) = {
    val f = fs(dir)
    val v = latestVersion(dir).getOrElse(
      throw new IllegalArgumentException(s"versioned table $dir has no committed versions"))
    val files = dataLines(readManifest(f, dir, v)).map(_.split('\t').head)
    val bytes = files.map(rel => f.getFileStatus(new Path(s"$dir/$rel")).getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staged = stageData(read(spark, dir, Some(v)).coalesce(nOut), dir)
    val newV = publish(dir, annotate(spark, dir, staged, statsCols, Nil, 0, 0),
      append = false)
    (newV, files.size, staged.size)
  }

  /** OPTIMIZE ZORDER: re-cluster the latest version on the Morton
    * interleave of two columns and commit as a new version with
    * per-file [min,max] stats on BOTH columns. Each column must cast to
    * double (for rank scaling) AND have an order-preserving string
    * image (zero-padded digit strings satisfy both) — the same contract
    * [[appendWithStats]] documents. After this commit a 2-D box query
    * through [[readPrunedMulti]] prunes on both predicates; with a
    * plain sort only the leading column's stats are selective. Returns
    * (newVersion, files).
    */
  def optimizeZorder(spark: SparkSession, dir: String,
      colA: String, colB: String, files: Int = 8): (Long, Int) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val cur = read(spark, dir, None)
    val st = cur.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    def rank(c: String, lo: Double, hi: Double) =
      (((col(c).cast("double") - lo) / math.max(hi - lo, 1e-12)) * 65535).cast("int")
    val z = cur
      .withColumn("__za", rank(colA, st.getDouble(0), st.getDouble(1)))
      .withColumn("__zb", rank(colB, st.getDouble(2), st.getDouble(3)))
      .withColumn("__z", graft.functions.InterleaveBits.z_interleave("__za", "__zb"))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__za", "__zb", "__z")
    val staged = stageData(z, dir)
    val newV = publish(dir, annotate(spark, dir, staged, Seq(colA, colB), Nil, 0, 0),
      append = false)
    (newV, staged.size)
  }

  /** INCREMENTAL READ (append-only CDC): the rows added between
    * `fromVersion` (exclusive) and `toVersion` (inclusive) — exactly
    * the files `toVersion`'s manifest names that `fromVersion`'s does
    * not. Requires the chain to be append-only across the span (an
    * overwrite/merge/optimize rewrites files, so a file-list diff no
    * longer means "added rows" — fails with a clear message; use the
    * keyed snapshot diff for that case). This is the consumer-side
    * primitive for "process only what's new since the last run": cost
    * scales with the DELTA, never with table history.
    */
  def readChanges(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val vs = versions(dir)
    Seq(fromVersion, toVersion).foreach(v => require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})"))
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val f = fs(dir)
    val from = dataLines(readManifest(f, dir, fromVersion)).map(_.split('\t').head)
    val to = dataLines(readManifest(f, dir, toVersion)).map(_.split('\t').head)
    val fromSet = from.toSet
    require(fromSet.subsetOf(to.toSet),
      s"readChanges: versions $fromVersion..$toVersion of $dir are not append-only " +
        s"(an overwrite/merge/optimize rewrote files); diff snapshots by key instead")
    val added = to.filterNot(fromSet)
    if (added.isEmpty)
      read(spark, dir, Some(toVersion)).where(org.apache.spark.sql.functions.lit(false))
    else spark.read.parquet(added.map(rel => s"$dir/$rel"): _*)
  }

  /** ROW-LEVEL CHANGE DATA FEED between two versions of a KEYED table:
    * every key whose payload differs between the snapshots comes back
    * classified as `insert` / `delete` / `update_preimage` +
    * `update_postimage`, computed by diffing ONLY the files the two
    * manifests disagree about. Data files are immutable, so a file named
    * by BOTH manifests contributes identical rows to both snapshots and
    * can never produce a change — the scan is bounded by the REWRITTEN
    * subset (O(changed files) + one key-shuffle join over it), never by
    * table history or table size, which is what makes a CDC consumer
    * viable against a 100 TB copy-on-write table. Keys must be unique
    * per snapshot (the discipline latest-wins ingest and [[merge]] both
    * maintain); rows a rewrite merely CARRIED into a new file (same key,
    * same payload on both sides) are filtered out, so an OPTIMIZE or
    * Z-order commit produces an EMPTY feed — layout maintenance is not
    * data change. Output schema: keys, `change_type`, then the payload
    * columns (pre-image values for deletes/update_preimage, post-image
    * for inserts/update_postimage).
    */
  def changeFeed(spark: SparkSession, dir: String, keys: Seq[String],
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val vs = versions(dir)
    Seq(fromVersion, toVersion).foreach(v => require(vs.contains(v),
      s"version $v of $dir does not exist (retained: ${vs.mkString(",")})"))
    require(fromVersion <= toVersion,
      s"changeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val f = fs(dir)
    val from = dataLines(readManifest(f, dir, fromVersion)).map(_.split('\t').head)
    val to = dataLines(readManifest(f, dir, toVersion)).map(_.split('\t').head)
    val removed = from.filterNot(to.toSet)
    val added = to.filterNot(from.toSet)
    val schema = read(spark, dir, Some(toVersion)).schema
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"changeFeed: key column $k not in table schema ${schema.fieldNames.mkString(",")}"))
    val payload = schema.fieldNames.filterNot(keys.contains).toIndexedSeq
    def side(files: Seq[String], tag: String): DataFrame = {
      val df =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.parquet(files.map(rel => s"$dir/$rel"): _*)
      df.select(keys.map(col) :+ struct(payload.map(col): _*).as(tag): _*)
    }
    val joined = side(removed, "__old").join(side(added, "__new"), keys, "full_outer")
    // typed empty array for the carried-row branch: same element type as
    // the emitting branches, zero elements (filter with a false lambda)
    val none = filter(
      array(struct(lit("x").as("change_type"), col("__new").as("p"))),
      _ => lit(false))
    val emitted = joined.select(keys.map(col) :+ explode(
      when(col("__old").isNull,
        array(struct(lit("insert").as("change_type"), col("__new").as("p"))))
      .when(col("__new").isNull,
        array(struct(lit("delete").as("change_type"), col("__old").as("p"))))
      .when(not(col("__old") <=> col("__new")), array(
        struct(lit("update_preimage").as("change_type"), col("__old").as("p")),
        struct(lit("update_postimage").as("change_type"), col("__new").as("p"))))
      .otherwise(none)).as("__c"): _*)
    emitted.select(
      (keys.map(col) :+ col("__c.change_type").as("change_type")) ++
        payload.map(c => col(s"__c.p.`$c`").as(c)): _*)
  }

  /** MERGE INTO (copy-on-write): delta rows REPLACE base rows that share
    * their key, delta rows under `deleteFlag` DELETE them, unmatched
    * delta rows INSERT — committed as one overwrite version, so the
    * merge is atomic and the pre-merge version stays time-travelable.
    * Resolution reuses the latest-wins aggregate (base tagged 0, delta
    * 1): one shuffle on the key, no join ladder. Scale note: this
    * rewrites the full table (copy-on-write at table granularity); the
    * real formats bound the rewrite to the FILES whose [min,max] overlap
    * the delta's keys — with range-clustered commits, [[readPruned]]'s
    * planned list is exactly that bound, and everything outside it can
    * be carried into the new manifest unrewritten.
    */
  def merge(spark: SparkSession, dir: String, delta: DataFrame,
      keys: Seq[String], deleteFlag: String): Long = {
    import org.apache.spark.sql.functions.{col, lit, max_by, struct, not}
    val base = read(spark, dir)
      .withColumn(deleteFlag, lit(false)).withColumn("__src", lit(0L))
    val d = delta.withColumn("__src", lit(1L))
    val all = base.unionByName(d)
    val payload = all.columns.filterNot(keys.contains)
    val merged = all.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), col("__src")).as("__m"))
      .select(keys.map(col) ++ payload.map(c => col(s"__m.`$c`").as(c)): _*)
      .where(not(col(deleteFlag)))
      .drop(deleteFlag, "__src")
    overwrite(merged, dir)
  }

  /** FILE-PRUNED MERGE — copy-on-write bounded by the delta's keys,
    * the bound [[merge]]'s doc promises: only files whose recorded
    * [min,max] on `key` CONTAINS at least one delta key are rewritten;
    * every other file is carried into the new version untouched (its
    * manifest line — stats included — survives verbatim), and the
    * commit is a conflict-detected [[replaceFiles]] transaction, so a
    * concurrent writer over disjoint files still lands. At 100 TB with
    * range-clustered commits this is the difference between rewriting
    * the table and rewriting the slice the delta touches.
    *
    * Requirements: the table was committed with [[appendWithStats]] on
    * `key` using an ORDER-PRESERVING string image (files lacking `key`
    * stats are conservatively rewritten), and keys are unique per
    * snapshot. Victim detection is ONE pass over the delta against the
    * O(files) range list (each key probes the literal range array; the
    * distinct victim indexes — bounded by the file count — come back to
    * the driver, the same metadata-plane shape as every manifest
    * operation here). Delta rows whose key lands in NO file (true
    * inserts) are committed alongside; delta deletes for absent keys
    * are no-ops. Rewritten output is re-range-clustered on `key` and
    * re-annotated, so repeated merges stay pruned. Returns
    * (newVersion, rewrittenFiles, totalFiles).
    */
  def mergePruned(spark: SparkSession, dir: String, delta: DataFrame,
      key: String, deleteFlag: String): (Long, Int, Int) = {
    import org.apache.spark.sql.functions._
    val (tip, _) = currentSnapshot(dir)
    val entries = dataLines(readManifest(fs(dir), dir, tip)).map(parseEntry)
    val ranged = entries.zipWithIndex.map {
      case ((p, Some((c, mn, mx))), i) if c == key => (p, i, Some((mn, mx)))
      case ((p, _), i) => (p, i, None) // missing/foreign stats: always victim
    }
    val statless = ranged.collect { case (p, _, None) => p }
    val probeRanges = ranged.collect { case (_, i, Some((mn, mx))) =>
      struct(lit(i).as("i"), lit(mn).as("mn"), lit(mx).as("mx"))
    }
    val hitIdx: Set[Int] =
      if (probeRanges.isEmpty) Set.empty
      else {
        val ki = col(key).cast("string")
        delta.select(explode(filter(array(probeRanges: _*),
            r => ki >= r.getField("mn") && ki <= r.getField("mx"))).as("r"))
          .select(col("r.i")).distinct()
          .collect().map(_.getInt(0)).toSet
      }
    val victims = statless ++ ranged.collect {
      case (p, i, Some(_)) if hitIdx(i) => p
    }
    val total = entries.size
    val d = delta.withColumn("__src", lit(1L))
    val resolve: DataFrame => DataFrame = { all =>
      val payload = all.columns.filterNot(_ == key)
      all.groupBy(col(key))
        .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), col("__src")).as("__m"))
        .select(col(key) +: payload.map(c => col(s"__m.`$c`").as(c)): _*)
        .where(not(col(deleteFlag)))
        .drop(deleteFlag, "__src")
    }
    if (victims.isEmpty) {
      // no base file holds any delta key: every surviving delta row is
      // a pure insert (dedup within the delta itself still applies)
      val inserts = resolve(d)
      return (publish(dir, stageWithStats(
        inserts.repartitionByRange(1, col(key)), dir, key), append = true),
        0, total)
    }
    val base = spark.read.parquet(victims.map(rel => s"$dir/$rel"): _*)
      .withColumn(deleteFlag, lit(false)).withColumn("__src", lit(0L))
    val merged = resolve(base.unionByName(d))
      .repartitionByRange(math.max(1, victims.size), col(key))
    (commitReplace(dir, victims, stageWithStats(merged, dir, key)),
      victims.size, total)
  }

  // ---- idempotent streaming commits ----

  /** Streaming APPEND with REPLAY PROTECTION — the foreachBatch sink
    * for this format. Structured Streaming's contract is at-least-once
    * per batch: a crash between the commit and the checkpoint write
    * replays the batch, and a plain append would double its rows. Each
    * streaming commit therefore stamps `txn:<queryId>:<batchId>` as the
    * manifest's first line; a replayed (queryId, batchId) already
    * present in the retained chain is detected and SKIPPED — the same
    * transactional-writer identity the production formats keep in their
    * txn actions. Returns the committed version, or None for a detected
    * replay. (Vacuuming past a txn manifest forgets its stamp — retain
    * at least as many versions as the sink's possible replay window.)
    */
  def appendStream(df: DataFrame, dir: String, queryId: String,
      batchId: Long): Option[Long] = {
    val f = fs(dir)
    val stamp = s"txn:$queryId:$batchId"
    def seen(): Boolean =
      versions(dir).exists(v => readManifest(f, dir, v).headOption.contains(stamp))
    if (seen()) return None
    val files = stageData(df, dir)
    var attempt = 0
    while (attempt < 50) {
      val parent = latestVersion(dir)
      if (seen()) return None // the race loser may discover the replay late
      val v = parent.getOrElse(0L) + 1
      val all = stamp +: (parent.map(p => dataLines(readManifest(f, dir, p)))
        .getOrElse(Nil) ++ files)
      if (stageAndSwap(f, dir, v, all)) return Some(v)
      attempt += 1
    }
    throw new IllegalStateException(
      s"versioned appendStream: lost the publish race 50 times at $dir")
  }

  /** Drop all but the last `retainVersions` manifests, then delete every
    * data file no RETAINED manifest references, plus staging leftovers.
    * Returns (#manifests dropped, #data files deleted). Time travel to
    * retained versions is untouched — their file lists survive intact.
    */
  def vacuum(dir: String, retainVersions: Int): (Int, Int) = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val f = fs(dir)
    val vs = versions(dir)
    val dropped = vs.dropRight(retainVersions)
    dropped.foreach(v => f.delete(new Path(manifestDir(dir), versionName(v)), false))
    val kept = versions(dir).flatMap(v => dataLines(readManifest(f, dir, v)))
      .map(_.split('\t').head).toSet
    var deleted = 0
    if (f.exists(dataDir(dir)))
      f.listStatus(dataDir(dir)).toSeq.map(_.getPath).foreach { p =>
        if (!kept.contains(s"data/${p.getName}")) { f.delete(p, false); deleted += 1 }
      }
    // tmp manifests, abandoned takeover markers (aged — a fresh one may
    // serialize a live recovery) and orphan stage dirs from crashed
    // commits. The sweep runs on the RAW filesystem: on local FS the
    // checksummed view HIDES `.crc` sidecars from listStatus, and
    // ChecksumFileSystem writes one beside every Hadoop-created fill
    // tmp while the NIO rename in atomicReplace moves only the base —
    // so EVERY successful local commit orphans a sidecar the
    // checksummed sweep could never see (r14 advisor's
    // unbounded-accumulation finding).
    val raw = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    if (raw.exists(manifestDir(dir)))
      raw.listStatus(manifestDir(dir)).toSeq.foreach { st =>
        val n = st.getPath.getName
        def aged = System.currentTimeMillis() - st.getModificationTime >
          graceNanos / 1000000L
        val agedOut = n.endsWith(".takeover") && aged
        // fill tmps from a writer that crashed between the tmp write
        // and its rename (plus their checksum sidecars, which contain
        // ".fill-" too) — aged like takeover markers so a LIVE fill's
        // microseconds-long window is never raced
        val agedFill = n.contains(".fill-") && aged
        // a checksum sidecar whose base file is gone is dead weight at
        // any age (deleting a sidecar only disables local checksum
        // verification of a file that no longer exists)
        val orphanCrc = n.startsWith(".") && n.endsWith(".crc") &&
          !raw.exists(new Path(manifestDir(dir),
            n.stripPrefix(".").stripSuffix(".crc")))
        if (n.endsWith(".tmp") || agedOut || agedFill || orphanCrc) {
          raw.delete(st.getPath, false)
          // take a deleted base's own sidecar with it (raw deletes
          // don't cascade the way checksummed ones do)
          if (!n.endsWith(".crc"))
            raw.delete(new Path(manifestDir(dir), s".$n.crc"), false)
        }
      }
    f.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".stage_")).foreach(p => f.delete(p, true))
    (dropped.size, deleted)
  }
}
