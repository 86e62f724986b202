package graft.operators

import graft.{GQuery, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layout maintenance AS VERSIONED COMMITS — the operational layer on
  * top of [[graft.sources.VersionedTable]]'s commit core: OPTIMIZE
  * (bin-pack), OPTIMIZE ZORDER (multi-dimensional clustering with
  * per-file stats recorded in the manifest), bloom-filter point-lookup
  * skipping, and append-only incremental reads. Each rewrite lands as
  * one atomic table version, never as a rename swap of a raw parquet
  * directory that a concurrent reader could see half done. Readers
  * keep snapshot isolation throughout, and every maintenance step
  * stays time-travelable.
  *
  * Scale stances:
  *  - bin-pack is a coalesce (no shuffle) sized from actual on-disk
  *    bytes; at 100 TB it runs per partition/time-slice, not table-wide,
  *    but the commit protocol is identical;
  *  - Z-order pays ONE range shuffle at write time to make every later
  *    2-D box query open planned files only — manifest pruning happens
  *    before any parquet footer I/O and composes with row-group stats;
  *  - blooms answer point lookups on keys where [min,max] spans every
  *    file (hash-distributed ids): ~8 KB of manifest per file buys
  *    opening ~|matching files| instead of |files|;
  *  - incremental read costs O(delta files), never O(history) — the
  *    consumer-side contract a recurring 100 TB curation pipeline needs
  *    to re-process only what arrived since its last run.
  */
object LakehouseOps {

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")

  val all: Seq[GQuery] = Seq(

    GQuery(
      "versioned_optimize_binpack",
      (s, dir) => {
        // OPTIMIZE (bin-pack) as an atomic commit: three appends leave
        // 18 small files (the streaming-sink pathology in miniature);
        // optimize coalesces them to ~1 MiB targets as version 4 while
        // version 3 stays time-travelable. The differential emits the
        // SAME yearly aggregate from the pre- and post-optimize
        // versions — the oracle expects two identical copies, so a
        // compaction that drops, duplicates, or mutates one row fails
        // the hash — plus a `compacted` flag asserting files actually
        // shrank (silently-dead maintenance must fail the gate, same
        // discipline as versioned_pruned_scan).
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_binpack")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        (0 until 3).foreach(i =>
          VersionedTable.append(base.where(pmod(col("k"), lit(3)) === i).repartition(6), r))
        val (vNew, before, after) =
          VersionedTable.optimizeBinPack(s, r, targetBytes = 1L << 20)
        require(vNew == 4, s"expected optimize to commit version 4, got $vNew")
        def yearly(v: Long) = VersionedTable.read(s, r, Some(v))
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .withColumn("version", lit(v))
        yearly(3).unionByName(yearly(4))
          .withColumn("compacted", lit(after < before))
          .orderBy("version", "year")
      },
      Some("""WITH y AS (
             |  SELECT strftime(o_orderdate, '%Y') AS year,
             |         CAST(count(*) AS BIGINT) AS n,
             |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders GROUP BY 1)
             |SELECT year, n, cents, CAST(3 AS BIGINT) AS version, true AS compacted FROM y
             |UNION ALL
             |SELECT year, n, cents, CAST(4 AS BIGINT) AS version, true AS compacted FROM y
             |ORDER BY version, year""".stripMargin)),

    GQuery(
      "versioned_zorder_scan",
      (s, dir) => {
        // OPTIMIZE ZORDER + 2-D manifest skipping: orders land hash-
        // scattered (16 files, every file spanning the full custkey AND
        // date domains — range stats useless on both), then one Z-order
        // commit re-clusters on the Morton interleave of zero-padded
        // (custkey, day-number) images and records per-file [min,max]
        // for BOTH columns. A quarter-by-quarter box query then plans
        // only the overlapping files: ~1/16 of the space, so pruning
        // must bite (`pruned` flag, oracle-asserted true) while the
        // residual range filters keep the result exact for straddling
        // files — which the hash compare certifies against a plain SQL
        // reconstruction. The custkey bound derives from the data
        // (max/4) so the box selects ~25% per dimension at EVERY scale
        // factor.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_zorder")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          lpad(col("o_custkey").cast("string"), 9, "0").as("ck9"),
          lpad(datediff(col("o_orderdate"), lit("1995-01-01")).cast("string"), 5, "0")
            .as("od5"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        VersionedTable.append(base.repartition(16), r)
        VersionedTable.optimizeZorder(s, r, "ck9", "od5", files = 16)
        val ckHi = orders(s, dir).agg(max("o_custkey")).head().getLong(0) / 4
        val (df, planned, total) = VersionedTable.readPrunedMulti(
          s, r, None, Seq(
            ("ck9", "0" * 9, f"$ckHi%09d"),
            // days 365..911 = [1996-01-01, 1997-07-01) against the 1995 epoch
            ("od5", "00365", "00911")))
        df.groupBy("month")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .withColumn("pruned", lit(planned < total))
          .orderBy("month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS pruned
             |FROM orders
             |WHERE o_custkey <= (SELECT max(o_custkey) // 4 FROM orders)
             |  AND datediff('day', TIMESTAMP '1995-01-01', o_orderdate) BETWEEN 365 AND 911
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "versioned_bloom_lookup",
      (s, dir) => {
        // BLOOM-FILTER POINT LOOKUP: orders commit hash-distributed on
        // the key (every file's [min,max] spans the whole key domain —
        // range skipping is structurally useless here) with a per-file
        // bloom on the key recorded in the manifest. A three-key lookup
        // then plans only may-contain files: no false negatives (a file
        // holding a key is always planned — the hash compare proves no
        // row was lost), false positives only cost planned files, and
        // with ~5k keys per 65536-bit filter the FP rate is <1%, so
        // `pruned` (planned < total) holds at every scale factor. Files
        // are sized by row count so the bloom density — not the file
        // count — is the scale-invariant.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_bloom")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val nFiles = math.max(8,
          math.ceil(base.count().toDouble / 5000).toInt)
        VersionedTable.appendAnnotated(base.repartition(nFiles), r,
          bloomCols = Seq("k"))
        val (df, planned, total) = VersionedTable.readBloomPruned(
          s, r, None, "k", Seq("1", "7", "33"))
        df.select(col("k"), col("cents"))
          .withColumn("pruned", lit(planned < total))
          .orderBy("k")
      },
      Some("""SELECT o_orderkey AS k,
             |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |       true AS pruned
             |FROM orders WHERE o_orderkey IN (1, 7, 33)
             |ORDER BY k""".stripMargin)),

    GQuery(
      "versioned_incremental_read",
      (s, dir) => {
        // INCREMENTAL READ (append-only CDC): three appends split the
        // history at 1996-07-01 and 1998-01-01; the consumer reads the
        // CHANGES between version 1 and version 3 — exactly the files
        // the later manifests added, never a re-scan of version 1's
        // data. The yearly aggregate of the delta must equal a plain
        // reconstruction of everything after the first cut: a diff that
        // leaks v1 files (cost regression AND wrong rows) or drops a
        // delta file shifts a count and fails the hash.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_incr")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate").as("od"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        val c1 = lit("1996-07-01").cast("timestamp")
        val c2 = lit("1998-01-01").cast("timestamp")
        VersionedTable.append(base.where(col("od") < c1).drop("od"), r)
        VersionedTable.append(base.where(col("od") >= c1 && col("od") < c2).drop("od"), r)
        VersionedTable.append(base.where(col("od") >= c2).drop("od"), r)
        VersionedTable.readChanges(s, r, fromVersion = 1, toVersion = 3)
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .orderBy("year")
      },
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "versioned_concurrent_commit",
      (s, dir) => {
        // OPTIMISTIC CONCURRENCY, the three-writer differential. Two
        // appends leave the table with disjoint file groups A (v1) and
        // B (v2-only). Writers X and Y both read snapshot v2, then each
        // compacts ITS group via a conflict-detected replace commit:
        // disjoint read sets, so both MUST land (X at v3; Y loses the
        // tip to X but rebases and lands at v4 — commit order is
        // immaterial, which is what "serialized replay equals
        // either-order outcome" means for disjoint transactions).
        // Writer Z then replays a STALE plan — replacing one of A's
        // original files, which X already rewrote — and must abort with
        // CommitConflictException rather than resurrect superseded
        // rows; its retry from a fresh snapshot commits v5. The final
        // yearly aggregate must equal the plain table (no row lost,
        // duplicated, or resurrected across the whole schedule), and
        // the three asserted flags make a silently-skipped conflict or
        // a refused disjoint commit fail the oracle, not just a spec.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_occ")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        VersionedTable.append(base.where(col("k") % 2 === 0).repartition(3), r)
        val (_, groupA) = VersionedTable.currentSnapshot(r)
        VersionedTable.append(base.where(col("k") % 2 === 1).repartition(3), r)
        val (v2, allFiles) = VersionedTable.currentSnapshot(r)
        val groupB = allFiles.filterNot(groupA.toSet)
        // Both writers derive their outputs from snapshot v2 BEFORE
        // either commits — the read-set overlap rule, not luck of
        // scheduling, is what lets both land.
        def slice(files: Seq[String]) =
          s.read.parquet(files.map(p => s"$r/$p"): _*)
        val dfA = slice(groupA).coalesce(1)
        val dfB = slice(groupB).coalesce(1)
        val vX = VersionedTable.replaceFiles(dfA, r, groupA)
        val vY = VersionedTable.replaceFiles(dfB, r, groupB)
        val conflicted =
          try { VersionedTable.replaceFiles(slice(Seq(groupA.head)), r, Seq(groupA.head)); false }
          catch { case _: VersionedTable.CommitConflictException => true }
        val (_, tipFiles) = VersionedTable.currentSnapshot(r)
        val vZ = VersionedTable.replaceFiles(
          VersionedTable.read(s, r).coalesce(1), r, tipFiles)
        VersionedTable.read(s, r)
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
          .withColumn("disjoint_commits_ok", lit(vX == v2 + 1 && vY == v2 + 2))
          .withColumn("conflict_detected", lit(conflicted))
          .withColumn("retry_committed", lit(vZ == v2 + 3))
          .orderBy("year")
      },
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS disjoint_commits_ok,
             |       true AS conflict_detected,
             |       true AS retry_committed
             |FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "versioned_change_feed",
      (s, dir) => {
        // ROW-LEVEL CHANGE DATA FEED: v1 is the full orders snapshot;
        // one MERGE applies a mixed delta (updates for k%91 keys,
        // deletes for k%97, inserts above the key domain for k%89) as
        // v2. changeFeed(v1→v2) must emit EXACTLY the delta's effects —
        // inserts, deletes, and update pre/post image pairs — and
        // nothing for the carried rows, even though the copy-on-write
        // merge rewrote every file. The diff scans only the files the
        // two manifests disagree about (here: all, because MERGE is
        // table-granularity copy-on-write; with range-clustered commits
        // the same call scans just the rewritten slice) and classifies
        // via ONE full-outer key join with null-safe payload-struct
        // compare; a feed that leaked a carried row, lost a delete, or
        // swapped pre/post images fails the hash.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_cdf")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        VersionedTable.append(base.repartition(4), r)
        val mx = base.agg(max("k")).head().getLong(0)
        val delta = base.where(col("k") % 91 === 0 && col("k") % 97 =!= 0)
            .withColumn("cents", col("cents") + 50000L)
            .withColumn("__del", lit(false))
          .unionByName(base.where(col("k") % 97 === 0)
            .withColumn("__del", lit(true)))
          .unionByName(base.where(col("k") % 89 === 0)
            .select((col("k") + mx + 1L).as("k"), (col("cents") + 1L).as("cents"),
              col("year"))
            .withColumn("__del", lit(false)))
        VersionedTable.merge(s, r, delta, keys = Seq("k"), deleteFlag = "__del")
        VersionedTable.changeFeed(s, r, Seq("k"), fromVersion = 1, toVersion = 2)
          .orderBy("k", "change_type")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
             |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |                     strftime(o_orderdate, '%Y') AS year
             |              FROM orders),
             |  ch AS (
             |    SELECT k + (SELECT max(k) + 1 FROM base) AS k, 'insert' AS change_type,
             |           cents + 1 AS cents, year FROM base WHERE k % 89 = 0
             |    UNION ALL
             |    SELECT k, 'delete', cents, year FROM base WHERE k % 97 = 0
             |    UNION ALL
             |    SELECT k, 'update_preimage', cents, year FROM base
             |    WHERE k % 91 = 0 AND k % 97 <> 0
             |    UNION ALL
             |    SELECT k, 'update_postimage', cents + 50000, year FROM base
             |    WHERE k % 91 = 0 AND k % 97 <> 0)
             |SELECT k, change_type, CAST(cents AS BIGINT) AS cents, year
             |FROM ch ORDER BY k, change_type""".stripMargin)),

    GQuery(
      "versioned_merge_pruned",
      (s, dir) => {
        // FILE-PRUNED MERGE: orders commit range-clustered on a
        // zero-padded key image across 8 stats-annotated files; the
        // delta (updates, deletes, and above-domain inserts) touches
        // only the LOW QUARTER of the key domain, so the merge must
        // rewrite only the overlapping files and carry the rest
        // verbatim — `pruned_rewrite` asserts rewritten < total, and
        // the yearly aggregate of the post-merge table certifies no
        // carried row was lost and no victim row escaped the rewrite.
        // This is the bound that keeps copy-on-write MERGE viable at
        // 100 TB: cost follows the delta's key locality, not table
        // size.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_merge_pruned")
        val src = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        def kid(c: org.apache.spark.sql.Column) =
          lpad(c.cast("string"), 12, "0")
        val base = src.select(kid(col("k")).as("kid"), col("cents"), col("year"))
        VersionedTable.appendWithStats(
          base.repartitionByRange(8, col("kid")), r, "kid")
        val mx = src.agg(max("k")).head().getLong(0)
        val qb = mx / 4
        val delta =
          src.where(col("k") <= qb && col("k") % 7 === 0 && col("k") % 11 =!= 0)
            .select(kid(col("k")).as("kid"), (col("cents") + 777L).as("cents"),
              col("year"), lit(false).as("__del"))
          .unionByName(src.where(col("k") <= qb && col("k") % 11 === 0)
            .select(kid(col("k")).as("kid"), col("cents"), col("year"),
              lit(true).as("__del")))
          .unionByName(src.where(col("k") <= qb && col("k") % 13 === 0)
            .select(kid(col("k") + mx + 1L).as("kid"),
              (col("cents") + 1L).as("cents"), col("year"),
              lit(false).as("__del")))
        val (_, rewritten, total) =
          VersionedTable.mergePruned(s, r, delta, key = "kid",
            deleteFlag = "__del")
        VersionedTable.read(s, r)
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .withColumn("pruned_rewrite", lit(rewritten < total))
          .orderBy("year")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
             |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |                     strftime(o_orderdate, '%Y') AS year
             |              FROM orders),
             |  p AS (SELECT max(k) // 4 AS qb, max(k) AS m FROM base),
             |  fin AS (
             |    SELECT CASE WHEN k <= (SELECT qb FROM p) AND k % 7 = 0
             |                     AND k % 11 <> 0
             |                THEN cents + 777 ELSE cents END AS cents, year
             |    FROM base WHERE NOT (k <= (SELECT qb FROM p) AND k % 11 = 0)
             |    UNION ALL
             |    SELECT cents + 1, year FROM base
             |    WHERE k <= (SELECT qb FROM p) AND k % 13 = 0)
             |SELECT year, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS cents, true AS pruned_rewrite
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_cdf_apply",
      (s, dir) => {
        // INCREMENTAL AGGREGATE MAINTENANCE FROM THE CHANGE FEED: the
        // downstream consumer holds v1's yearly aggregate and must
        // reach v2's WITHOUT rescanning the table — insert adds
        // (+1, +cents), delete subtracts, an update applies its
        // pre-image negatively and its post-image positively (the
        // classic retract/accumulate pair). The maintained result must
        // hash-equal a from-scratch aggregate of the final state; the
        // inputs are v1's AGGREGATE (group-count-sized) plus the
        // O(delta) feed — the consumption loop that makes a 100 TB
        // dashboard refresh cost the day's changes, not the table.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_cdf_apply")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        VersionedTable.append(base.repartition(4), r)
        val mx = base.agg(max("k")).head().getLong(0)
        val delta = base.where(col("k") % 91 === 0 && col("k") % 97 =!= 0)
            .withColumn("cents", col("cents") + 50000L)
            .withColumn("__del", lit(false))
          .unionByName(base.where(col("k") % 97 === 0)
            .withColumn("__del", lit(true)))
          .unionByName(base.where(col("k") % 89 === 0)
            .select((col("k") + mx + 1L).as("k"), (col("cents") + 1L).as("cents"),
              col("year"))
            .withColumn("__del", lit(false)))
        VersionedTable.merge(s, r, delta, keys = Seq("k"), deleteFlag = "__del")
        val v1agg = VersionedTable.read(s, r, Some(1))
          .groupBy("year")
          .agg(count(lit(1)).as("dn"), sum("cents").as("dc"))
        val ct = col("change_type")
        val feedDeltas = VersionedTable.changeFeed(s, r, Seq("k"), 1, 2)
          .select(col("year"),
            when(ct === "insert", 1L).when(ct === "delete", -1L)
              .otherwise(0L).as("dn"),
            when(ct.isin("insert", "update_postimage"), col("cents"))
              .otherwise(-col("cents")).as("dc"))
        v1agg.unionByName(feedDeltas)
          .groupBy("year")
          .agg(sum("dn").as("n"), sum("dc").as("cents"))
          .where(col("n") > 0)
          .orderBy("year")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
             |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |                     strftime(o_orderdate, '%Y') AS year
             |              FROM orders),
             |  fin AS (
             |    SELECT CASE WHEN k % 91 = 0 AND k % 97 <> 0 THEN cents + 50000
             |                ELSE cents END AS cents, year
             |    FROM base WHERE k % 97 <> 0
             |    UNION ALL
             |    SELECT cents + 1, year FROM base WHERE k % 89 = 0)
             |SELECT year, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS cents
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "versioned_schema_evolution",
      (s, dir) => {
        // SCHEMA EVOLUTION across commits: v1's files carry (k, cents);
        // a later append adds a `priority` column, so the chain holds
        // files of BOTH widths. Reading latest reconciles by name —
        // old files surface priority as NULL, nothing is rewritten
        // (evolution is a metadata event, not a 100 TB backfill), and
        // time travel to v1 still serves the ORIGINAL narrow schema.
        // The differential aggregates the merged read per priority
        // bucket (NULL bucket = pre-evolution rows) and appends a
        // narrow-schema v1 audit row, so a reader that dropped the old
        // files, backfilled wrongly, or leaked the new column into v1
        // fails the hash.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_evolve")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority").as("priority"),
          col("o_orderdate").as("od"))
        val cut = lit("1996-01-01").cast("timestamp")
        VersionedTable.append(base.where(col("od") < cut)
          .select("k", "cents"), r)
        VersionedTable.append(base.where(col("od") >= cut)
          .select("k", "cents", "priority"), r)
        val merged = VersionedTable.read(s, r, None, mergeSchema = true)
          .groupBy(coalesce(col("priority"), lit("__pre_evolution")).as("priority"))
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        val v1 = VersionedTable.read(s, r, Some(1))
        val v1Audit = v1
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .select(lit("__v1_narrow").as("priority"), col("n"), col("cents"))
          .withColumn("v1_schema_narrow",
            lit(v1.schema.fieldNames.sameElements(Array("k", "cents"))))
        merged.withColumn("v1_schema_narrow", lit(true))
          .unionByName(v1Audit)
          .orderBy("priority")
      },
      Some("""WITH rows_ AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |                      CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
             |                           THEN o_orderpriority
             |                           ELSE '__pre_evolution' END AS priority
             |               FROM orders)
             |SELECT priority, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS cents, true AS v1_schema_narrow
             |FROM rows_ GROUP BY priority
             |UNION ALL
             |SELECT '__v1_narrow', CAST(count(*) AS BIGINT),
             |       CAST(sum(cents) AS BIGINT), true
             |FROM rows_ WHERE priority = '__pre_evolution'
             |ORDER BY priority""".stripMargin)),

    GQuery(
      "versioned_purge_key",
      (s, dir) => {
        // COMPLIANCE PURGE (right-to-be-forgotten): deleting a subject's
        // rows from the LATEST version is not enough — time travel
        // would still serve them. The purge is a merge-delete commit
        // followed by a vacuum that retains ONLY the post-delete
        // version: the pre-delete manifests drop and their
        // now-unreferenced data files are PHYSICALLY deleted. Three
        // oracle-asserted proofs: `single_version` (no snapshot that
        // could still serve the subject survives), `files_purged`
        // (bytes actually left disk — a vacuum that only forgot
        // manifests fails), and `subject_gone` (a full read of every
        // retained version finds zero subject rows). The yearly
        // aggregate certifies the purge removed exactly the subject and
        // nothing else. At 100 TB the cost profile is the merge's
        // rewrite (boundable by [[graft.sources.VersionedTable.mergePruned]]
        // when commits are key-clustered) + an O(files) vacuum listing.
        import graft.sources.VersionedTable
        val r = Scratch.dir("orders_purge")
        val base = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        VersionedTable.append(base.repartition(4), r)
        val delta = base.where(col("k") % 53 === 0).withColumn("__del", lit(true))
        VersionedTable.merge(s, r, delta, keys = Seq("k"), deleteFlag = "__del")
        val (droppedManifests, deletedFiles) = VersionedTable.vacuum(r, retainVersions = 1)
        val singleVersion = VersionedTable.versions(r).size == 1
        val subjectGone = VersionedTable.versions(r).forall(v =>
          VersionedTable.read(s, r, Some(v))
            .where(col("k") % 53 === 0).isEmpty)
        VersionedTable.read(s, r)
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .withColumn("single_version", lit(singleVersion && droppedManifests == 1))
          .withColumn("files_purged", lit(deletedFiles > 0))
          .withColumn("subject_gone", lit(subjectGone))
          .orderBy("year")
      },
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS single_version,
             |       true AS files_purged,
             |       true AS subject_gone
             |FROM orders WHERE o_orderkey % 53 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "orders_bitemporal_asof",
      (s, dir) => {
        // BITEMPORAL AS-OF: valid time (when the order was effective)
        // × transaction time (when the fact was recorded). Batch 2
        // retroactively corrects prices for every 50th order, valid
        // from the ORIGINAL order date — so "as known at t1" and "as
        // known at t2" disagree about the same valid-time slice. The
        // reconstruction is latest-transaction-wins per key within
        // txn <= t (the versioned-table time-travel rule), THEN the
        // valid-time filter — composing the engine's two temporal axes
        // (SCD2 handles valid time, VersionedTable transaction time) in
        // one query. Shape per reconstruction: one max_by aggregate +
        // one rollup; nothing scans history twice.
        val base = Tables.t(s, dir, "orders").select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderdate").as("valid_from"), lit(1L).as("txn"))
        val corr = base.where(col("k") % 50 === 0)
          .withColumn("cents", col("cents") + 50000L)
          .withColumn("txn", lit(2L))
        val facts = base.unionByName(corr)
        def asKnown(t: Int) = facts.where(col("txn") <= t)
          .groupBy("k")
          .agg(max(struct(col("txn"), col("cents"))).getField("cents").as("cents"),
            first("priority").as("priority"), first("valid_from").as("valid_from"))
          .where(col("valid_from") < lit("1998-01-01"))
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .withColumn("known_at_txn", lit(t.toLong))
        asKnown(1).unionByName(asKnown(2))
          .select(col("known_at_txn"), col("priority"), col("n"), col("cents"))
          .orderBy("known_at_txn", "priority")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS priority,
             |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |                     o_orderdate AS valid_from, 1 AS txn
             |              FROM orders),
             |  corr AS (SELECT k, priority, cents + 50000, valid_from, 2 FROM base WHERE k % 50 = 0),
             |  facts AS (SELECT * FROM base UNION ALL SELECT * FROM corr),
             |  k1 AS (SELECT 1 AS known_at_txn, priority, k, arg_max(cents, txn) AS cents,
             |                any_value(valid_from) AS valid_from
             |         FROM facts WHERE txn <= 1 GROUP BY priority, k),
             |  k2 AS (SELECT 2 AS known_at_txn, priority, k, arg_max(cents, txn) AS cents,
             |                any_value(valid_from) AS valid_from
             |         FROM facts WHERE txn <= 2 GROUP BY priority, k),
             |  u AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2)
             |SELECT CAST(known_at_txn AS BIGINT) AS known_at_txn, priority,
             |       CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS cents
             |FROM u WHERE valid_from < TIMESTAMP '1998-01-01'
             |GROUP BY 1, 2 ORDER BY known_at_txn, priority""".stripMargin))
  )
}
