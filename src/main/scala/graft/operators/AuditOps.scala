package graft.operators

import graft.{GQuery, Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-governance audits: snapshot diff (what changed between two
  * versions of a keyed table) and a one-pass constraint audit (how many
  * rows violate each declared expectation). Both are the operational
  * twins of [[graft.operators.Extras]]'s `table_fingerprint` /
  * `table_profile`: the fingerprint says WHETHER two copies agree, the
  * diff says WHAT diverged; the profile describes columns, the audit
  * scores them against declared rules.
  *
  * Scale stances:
  *  - the diff is ONE full-outer join co-partitioned on the key — both
  *    sides shuffle once; on bucketed layouts (`sources/Layout`
  *    `writeBucketed`) the exchange disappears entirely. Rows compare
  *    by a single row-hash expression, not column-by-column, so the
  *    compare cost is one md5 per row regardless of width, and the
  *    output is the per-class summary (a |classes|-row frame), never a
  *    materialized copy of either snapshot.
  *  - the audit evaluates EVERY rule in one scan as conditional
  *    aggregates (classic Deequ-style analyzer batching); the only
  *    exchange is the final 1-row combine, plus the expand the exact
  *    duplicate-key count needs — at 100 TB swap that one term for
  *    approx_count_distinct and the audit is a pure map-side pass.
  */
object AuditOps {

  private def orders(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")

  /** Deterministic "previous snapshot" of orders, diverged three ways:
    * keys ≡ 0 (mod 41) are ABSENT (so they read as inserts in v_new),
    * keys ≡ 0 (mod 37) carry a shifted total price (updates), and a
    * copy of keys ≡ 0 (mod 43) is re-keyed negative (rows only the old
    * snapshot has → deletes). Mirrored 1:1 in the oracle's CTE.
    */
  private def ordersOld(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    o.where(col("o_orderkey") % 41 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 37 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .unionByName(
        o.where(col("o_orderkey") % 43 === 0)
          .withColumn("o_orderkey", -col("o_orderkey")))
  }

  /** Every hashed column is coalesced to a sentinel BEFORE the
    * concat: concat_ws silently skips NULLs, so without it
    * (a, NULL, b) and (a, b, NULL) would collide — and diverge from
    * engines whose '||' nulls the whole hash. With the sentinel the
    * hash is injective over nullable rows and engine-portable (the
    * oracle mirrors the same coalesce).
    */
  private def rowHash(prefix: String): org.apache.spark.sql.Column = {
    def c(x: org.apache.spark.sql.Column) =
      coalesce(x.cast("string"), lit("~NULL~"))
    md5(concat_ws("|",
      c(col(s"${prefix}o_custkey")),
      c(round(col(s"${prefix}o_totalprice") * 100).cast("long")),
      c(col(s"${prefix}o_orderpriority")),
      c(date_format(col(s"${prefix}o_orderdate"), "yyyy-MM-dd"))))
  }

  val all: Seq[GQuery] = Seq(

    GQuery(
      "table_diff_snapshot",
      (s, dir) => {
        // SNAPSHOT DIFF (CDC between table versions): classify every
        // key as added / deleted / changed / unchanged with ONE
        // key-partitioned full-outer join comparing row HASHES. The
        // summary carries counts AND a key checksum per class, so a
        // misclassified row fails the hash compare even when two
        // classes have equal sizes.
        val oldS = ordersOld(s, dir)
          .select(col("o_orderkey").as("k"), rowHash("").as("h_old"))
        val newS = orders(s, dir)
          .select(col("o_orderkey").as("k"), rowHash("").as("h_new"))
        oldS.join(newS, Seq("k"), "full_outer")
          .select(col("k"),
            when(col("h_old").isNull, "added")
              .when(col("h_new").isNull, "deleted")
              .when(col("h_old") =!= col("h_new"), "changed")
              .otherwise("unchanged").as("class"))
          .groupBy("class")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("key_checksum"))
          .orderBy("class")
      },
      Some("""WITH v_old AS (
             |  SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 37 = 0 THEN o_totalprice + 100.0
             |              ELSE o_totalprice END AS o_totalprice,
             |         o_custkey, o_orderpriority, o_orderdate
             |  FROM orders WHERE o_orderkey % 41 <> 0
             |  UNION ALL
             |  SELECT -o_orderkey, o_totalprice, o_custkey, o_orderpriority, o_orderdate
             |  FROM orders WHERE o_orderkey % 43 = 0),
             |     ho AS (SELECT o_orderkey AS k,
             |                   md5(coalesce(CAST(o_custkey AS VARCHAR), '~NULL~') || '|' ||
             |                       coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '~NULL~') || '|' ||
             |                       coalesce(o_orderpriority, '~NULL~') || '|' ||
             |                       coalesce(strftime(o_orderdate, '%Y-%m-%d'), '~NULL~')) AS h_old
             |            FROM v_old),
             |     hn AS (SELECT o_orderkey AS k,
             |                   md5(coalesce(CAST(o_custkey AS VARCHAR), '~NULL~') || '|' ||
             |                       coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), '~NULL~') || '|' ||
             |                       coalesce(o_orderpriority, '~NULL~') || '|' ||
             |                       coalesce(strftime(o_orderdate, '%Y-%m-%d'), '~NULL~')) AS h_new
             |            FROM orders)
             |SELECT CASE WHEN h_old IS NULL THEN 'added'
             |            WHEN h_new IS NULL THEN 'deleted'
             |            WHEN h_old <> h_new THEN 'changed'
             |            ELSE 'unchanged' END AS class,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(k) AS BIGINT) AS key_checksum
             |FROM ho FULL OUTER JOIN hn USING (k)
             |GROUP BY 1 ORDER BY class""".stripMargin)),

    GQuery(
      "versioned_time_travel",
      (s, dir) => {
        // TIME TRAVEL over the versioned-table commit core
        // (sources/VersionedTable): v1 commits history before the cut,
        // v2 APPENDS the delta; reading BOTH versions of the same table
        // root must reproduce the two historical states exactly — the
        // reproducibility primitive behind "train on the same corpus
        // snapshot twice". The differential aggregates each version's
        // yearly counts under a version tag; the oracle reconstructs
        // both states from full history, so a manifest that leaks delta
        // files into v1 or drops parent files from v2 fails the hash.
        import graft.sources.VersionedTable
        val orders = Tables.t(s, dir, "orders")
        val cut = lit("1997-01-01").cast("timestamp")
        val root = Scratch.dir("orders")
        VersionedTable.append(
          orders.where(col("o_orderdate") < cut)
            .select("o_orderkey", "o_orderdate", "o_totalprice"), root)
        VersionedTable.append(
          orders.where(col("o_orderdate") >= cut)
            .select("o_orderkey", "o_orderdate", "o_totalprice"), root)
        def yearly(v: Long) = VersionedTable.read(s, root, Some(v))
          .groupBy(date_format(col("o_orderdate"), "yyyy").as("year"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("version", lit(v))
        yearly(1).unionByName(yearly(2)).orderBy("version", "year")
      },
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       CAST(1 AS BIGINT) AS version
             |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1
             |UNION ALL
             |SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       CAST(2 AS BIGINT) AS version
             |FROM orders GROUP BY 1
             |ORDER BY version, year""".stripMargin)),

    GQuery(
      "versioned_pruned_scan",
      (s, dir) => {
        // MANIFEST-LEVEL FILE SKIPPING: orders are committed
        // range-clustered on the ISO order date with per-file [min,max]
        // recorded in the manifest; a one-year query then PLANS only
        // the overlapping files — at 100 TB this is the difference
        // between opening days and opening the table, applied BEFORE
        // any parquet footer is touched (manifest pruning composes with
        // row-group pruning, it doesn't replace it). The emitted
        // `pruned` flag asserts planned < total files and the oracle
        // expects true, so silently-dead skipping fails the gate; the
        // residual filter keeps results exact even for straddling
        // files, which is what the hash compare certifies.
        import graft.sources.VersionedTable
        val orders = Tables.t(s, dir, "orders")
        val root = Scratch.dir("orders_stats")
        VersionedTable.appendWithStats(
          orders.select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
            .repartitionByRange(8, col("od")),
          root, "od")
        val (pruned, planned, total) = VersionedTable.readPruned(
          s, root, None, "od", "1997-01-01", "1997-12-31")
        pruned
          .groupBy(substring(col("od"), 1, 7).as("month"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("pruned", lit(planned < total))
          .orderBy("month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS pruned
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "versioned_merge_upsert",
      (s, dir) => {
        // MERGE INTO the versioned table: one delta carrying updates
        // (keys ≡0 mod 37, price shifted), inserts (a negative-keyed
        // copy of keys ≡0 mod 43 — key 0 excluded, its negation is
        // itself and would collide with its delete) and deletes (keys
        // ≡0 mod 53, update
        // set excluded so each key gets ONE delta op) lands as a single
        // atomic copy-on-write version — and the PRE-merge version
        // remains readable, which the differential proves by emitting
        // both versions' (count, cents) summaries under version tags.
        // The oracle reconstructs both states from raw history; a merge
        // that loses an insert, resurrects a delete, or half-applies an
        // update shifts a sum and fails the hash.
        import graft.sources.VersionedTable
        val orders = Tables.t(s, dir, "orders")
        val base = orders.select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val root = Scratch.dir("orders_merge")
        VersionedTable.append(base, root)
        val delta = base.where(col("k") % 37 === 0 && col("k") % 53 =!= 0)
          .select(col("k"), (col("cents") + 100).as("cents"))
          .withColumn("del", lit(false))
          .unionByName(base.where(col("k") % 43 === 0 && col("k") =!= 0)
            .select((-col("k")).as("k"), col("cents")).withColumn("del", lit(false)))
          .unionByName(base.where(col("k") % 53 === 0)
            .select(col("k"), col("cents")).withColumn("del", lit(true)))
        VersionedTable.merge(s, root, delta, Seq("k"), "del")
        def summary(v: Long) = VersionedTable.read(s, root, Some(v))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
          .withColumn("version", lit(v))
        summary(1).unionByName(summary(2)).orderBy("version")
      },
      Some("""WITH base AS (SELECT o_orderkey AS k,
             |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |              FROM orders),
             |     merged AS (
             |       SELECT k, CASE WHEN k % 37 = 0 THEN cents + 100 ELSE cents END AS cents
             |       FROM base WHERE k % 53 <> 0
             |       UNION ALL
             |       SELECT -k, cents FROM base WHERE k % 43 = 0 AND k <> 0)
             |SELECT CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS total_cents,
             |       CAST(1 AS BIGINT) AS version
             |FROM base
             |UNION ALL
             |SELECT CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT),
             |       CAST(2 AS BIGINT)
             |FROM merged
             |ORDER BY version""".stripMargin)),

    GQuery(
      "table_constraint_audit",
      (s, dir) => {
        // ONE-PASS CONSTRAINT AUDIT (Deequ-style analyzer batching):
        // every declared expectation evaluates as a conditional
        // aggregate in a single scan of lineitem; the per-rule rows are
        // unpivoted from the one combined result. Zero-violation rules
        // stay in the report — an audit that silently drops clean rules
        // cannot prove it ran them.
        val l = Tables.t(s, dir, "lineitem")
        val one = l.agg(
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("quantity_out_of_range"),
          sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("quantity_suspicious_high"),
          sum(when(col("l_discount") > lit(0.08), 1L).otherwise(0L)).as("discount_above_policy"),
          sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L)).as("returnflag_out_of_domain"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
          (count(lit(1)) -
            countDistinct(col("l_orderkey"), col("l_linenumber"))).as("duplicate_line_keys"))
        one.select(expr(
          """stack(7,
            |  'null_orderkey', null_orderkey,
            |  'quantity_out_of_range', quantity_out_of_range,
            |  'quantity_suspicious_high', quantity_suspicious_high,
            |  'discount_above_policy', discount_above_policy,
            |  'returnflag_out_of_domain', returnflag_out_of_domain,
            |  'nonpositive_price', nonpositive_price,
            |  'duplicate_line_keys', duplicate_line_keys) AS (rule, n_violations)
            |""".stripMargin))
          .orderBy("rule")
      },
      Some("""WITH a AS (
             |  SELECT sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_orderkey,
             |         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS quantity_out_of_range,
             |         sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS quantity_suspicious_high,
             |         sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS discount_above_policy,
             |         sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS returnflag_out_of_domain,
             |         sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS nonpositive_price,
             |         count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS duplicate_line_keys
             |  FROM lineitem)
             |SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
             |  SELECT 'null_orderkey' AS rule, null_orderkey AS n_violations FROM a
             |  UNION ALL SELECT 'quantity_out_of_range', quantity_out_of_range FROM a
             |  UNION ALL SELECT 'quantity_suspicious_high', quantity_suspicious_high FROM a
             |  UNION ALL SELECT 'discount_above_policy', discount_above_policy FROM a
             |  UNION ALL SELECT 'returnflag_out_of_domain', returnflag_out_of_domain FROM a
             |  UNION ALL SELECT 'nonpositive_price', nonpositive_price FROM a
             |  UNION ALL SELECT 'duplicate_line_keys', duplicate_line_keys FROM a)
             |ORDER BY rule""".stripMargin)),

    GQuery(
      "table_sort_advisor",
      (s, dir) => {
        // SORT-KEY / RLE ADVISOR: for each candidate clustering key,
        // how many value RUNS would each payload column have after
        // sorting by (key, o_orderkey)? Runs ≈ RLE symbols ≈ encoded
        // size, so fewer runs = better compression AND tighter per-page
        // min/max stats. Adjacency is evaluated per candidate-key
        // PARTITION (lag within the key's groups — partition-parallel,
        // no global sort; cross-group boundaries add exactly |groups|,
        // folded in as the group count). The advisor output is the
        // run count per (candidate, column) — the min row is the
        // layout decision.
        import org.apache.spark.sql.expressions.Window
        val o = Tables.t(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority").as("prio"),
          col("o_orderstatus").as("status"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        def runsUnder(key: String, payloads: Seq[String]) = {
          // Two steps: (1) a windowed SELECT computes the run-break
          // flag while o_orderkey (the window's order column) is still
          // in scope; (2) a plain agg sums the flag columns. Folding
          // the lag into .agg() directly is invalid — the analyzer
          // would have to resolve the window after the order column
          // was projected away.
          val w = Window.partitionBy(key).orderBy("o_orderkey")
          val flagged = o.select(payloads.map(p =>
            when(lag(col(p), 1).over(w).isNull ||
              lag(col(p), 1).over(w) =!= col(p), 1L).otherwise(0L)
              .as(s"flag_$p")): _*)
          val sums = payloads.map(p =>
            sum(col(s"flag_$p")).as(s"runs_$p"))
          flagged.agg(sums.head, sums.tail: _*)
            .withColumn("candidate", lit(key))
        }
        runsUnder("prio", Seq("status", "month"))
          .unionByName(runsUnder("status", Seq("prio", "month")),
            allowMissingColumns = true)
          .unionByName(runsUnder("month", Seq("prio", "status")),
            allowMissingColumns = true)
          .select(col("candidate"),
            coalesce(col("runs_prio"), lit(-1L)).as("runs_prio"),
            coalesce(col("runs_status"), lit(-1L)).as("runs_status"),
            coalesce(col("runs_month"), lit(-1L)).as("runs_month"))
          .orderBy("candidate")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority AS prio, o_orderstatus AS status,
             |                  strftime(o_orderdate, '%Y-%m') AS month
             |           FROM orders),
             |  rp AS (SELECT 'prio' AS candidate, CAST(NULL AS BIGINT) AS runs_prio,
             |                CAST(sum(CASE WHEN ls IS NULL OR ls <> status THEN 1 ELSE 0 END) AS BIGINT) AS runs_status,
             |                CAST(sum(CASE WHEN lm IS NULL OR lm <> month THEN 1 ELSE 0 END) AS BIGINT) AS runs_month
             |         FROM (SELECT status, month,
             |                      lag(status) OVER (PARTITION BY prio ORDER BY o_orderkey) AS ls,
             |                      lag(month) OVER (PARTITION BY prio ORDER BY o_orderkey) AS lm
             |               FROM o)),
             |  rs AS (SELECT 'status' AS candidate,
             |                CAST(sum(CASE WHEN lp IS NULL OR lp <> prio THEN 1 ELSE 0 END) AS BIGINT) AS runs_prio,
             |                CAST(NULL AS BIGINT) AS runs_status,
             |                CAST(sum(CASE WHEN lm IS NULL OR lm <> month THEN 1 ELSE 0 END) AS BIGINT) AS runs_month
             |         FROM (SELECT prio, month,
             |                      lag(prio) OVER (PARTITION BY status ORDER BY o_orderkey) AS lp,
             |                      lag(month) OVER (PARTITION BY status ORDER BY o_orderkey) AS lm
             |               FROM o)),
             |  rm AS (SELECT 'month' AS candidate,
             |                CAST(sum(CASE WHEN lp IS NULL OR lp <> prio THEN 1 ELSE 0 END) AS BIGINT) AS runs_prio,
             |                CAST(sum(CASE WHEN ls IS NULL OR ls <> status THEN 1 ELSE 0 END) AS BIGINT) AS runs_status,
             |                CAST(NULL AS BIGINT) AS runs_month
             |         FROM (SELECT prio, status,
             |                      lag(prio) OVER (PARTITION BY month ORDER BY o_orderkey) AS lp,
             |                      lag(status) OVER (PARTITION BY month ORDER BY o_orderkey) AS ls
             |               FROM o))
             |SELECT candidate, coalesce(runs_prio, -1) AS runs_prio,
             |       coalesce(runs_status, -1) AS runs_status,
             |       coalesce(runs_month, -1) AS runs_month
             |FROM (SELECT * FROM rp UNION ALL SELECT * FROM rs UNION ALL SELECT * FROM rm)
             |ORDER BY candidate""".stripMargin)),

    GQuery(
      "table_schema_compat",
      (s, dir) => {
        // DATA-CONTRACT GATE: classify every field-level change between
        // a producer's old and new schema by which readers it breaks
        // (backward = new reader on old data, forward = old reader on
        // new data — the Avro/Protobuf compatibility matrix over Spark
        // types, implemented in sources/SchemaCompat). The fixture pair
        // exercises every class at once: widen, narrow, add nullable,
        // add required, drop, relax/require nullability. Metadata-only
        // — O(fields), the per-commit gate that runs before any 100 TB
        // backfill question even arises. The oracle pins the expected
        // matrix; a misclassification (e.g. calling a widen
        // forward-safe) fails the hash.
        import graft.sources.SchemaCompat
        import org.apache.spark.sql.types._
        val from = StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("cents", IntegerType, nullable = true),
          StructField("status", StringType, nullable = true),
          StructField("legacy", StringType, nullable = true),
          StructField("qty", DoubleType, nullable = true),
          StructField("flag", StringType, nullable = false)))
        val to = StructType(Seq(
          StructField("k", LongType, nullable = false),
          StructField("cents", LongType, nullable = true), // widen
          StructField("status", StringType, nullable = false), // require
          StructField("qty", FloatType, nullable = true), // narrow
          StructField("flag", StringType, nullable = true), // relax
          StructField("note", StringType, nullable = true), // add nullable
          StructField("must", LongType, nullable = false))) // add required
        import s.implicits._
        SchemaCompat.diff(from, to)
          .map(c => (c.field, c.change, c.backward, c.forward))
          .toDF("field", "change", "backward", "forward")
          .orderBy("field", "change")
      },
      Some("""SELECT * FROM (VALUES
             |  ('cents',  'widen',            true,  false),
             |  ('flag',   'relax_nullable',   true,  false),
             |  ('legacy', 'drop',             true,  false),
             |  ('must',   'add_required',     false, true),
             |  ('note',   'add_nullable',     true,  true),
             |  ('qty',    'narrow',           false, true),
             |  ('status', 'require_nonnull',  false, true))
             |  AS t(field, change, backward, forward)
             |ORDER BY field, change""".stripMargin)),

    GQuery(
      "join_size_estimate",
      (s, dir) => {
        // JOIN-CARDINALITY ESTIMATION audit — the CBO primitive that
        // decides broadcast vs shuffle and join order at 100 TB, made
        // inspectable: equi-width histograms (16 buckets over the key
        // domain) on both join sides, the classic containment estimate
        // |A⋈B|ᵦ = n_a·n_b / max(d_a, d_b) per bucket, and the EXACT
        // per-bucket join count beside it. Histogram build = one
        // aggregate per side over (key) only; the estimate itself
        // touches 16 rows. Integer arithmetic end-to-end so both
        // engines produce bit-identical estimates; the exact column is
        // the ground truth the estimator is judged against (TPC-H's
        // uniform FK makes it tight here; skew would split them — which
        // is exactly what the audit is FOR).
        val o = orders(s, dir).select(col("o_custkey").as("k"))
        val c = Tables.t(s, dir, "customer").select(col("c_custkey").as("k"))
        val mx = c.agg(max("k")).head().getLong(0)
        def bucket = (col("k") * 16L / (mx + 1L)).cast("long")
        def hist(df: DataFrame, pre: String) = df.groupBy(bucket.as("b"))
          .agg(count(lit(1)).as(s"n_$pre"), countDistinct(col("k")).as(s"d_$pre"))
        val est = hist(o, "o").join(hist(c, "c"), "b")
          .select(col("b"), col("n_o"), col("d_o"), col("n_c"), col("d_c"),
            (col("n_o") * col("n_c") / greatest(col("d_o"), col("d_c")))
              .cast("long").as("est"))
        val exact = o.join(c, "k").groupBy(bucket.as("b"))
          .agg(count(lit(1)).as("exact"))
        est.join(exact, Seq("b"), "left_outer")
          .select(col("b"), col("n_o"), col("d_o"), col("n_c"), col("d_c"),
            col("est"), coalesce(col("exact"), lit(0L)).as("exact"))
          .orderBy("b")
      },
      Some("""WITH p AS (SELECT max(c_custkey) + 1 AS m FROM customer),
             |  ho AS (SELECT o_custkey * 16 // (SELECT m FROM p) AS b,
             |                CAST(count(*) AS BIGINT) AS n_o,
             |                CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_o
             |         FROM orders GROUP BY 1),
             |  hc AS (SELECT c_custkey * 16 // (SELECT m FROM p) AS b,
             |                CAST(count(*) AS BIGINT) AS n_c,
             |                CAST(count(DISTINCT c_custkey) AS BIGINT) AS d_c
             |         FROM customer GROUP BY 1),
             |  ex AS (SELECT o_custkey * 16 // (SELECT m FROM p) AS b,
             |                CAST(count(*) AS BIGINT) AS exact
             |         FROM orders JOIN customer ON o_custkey = c_custkey
             |         GROUP BY 1)
             |SELECT ho.b, n_o, d_o, n_c, d_c,
             |       CAST(n_o * n_c // greatest(d_o, d_c) AS BIGINT) AS est,
             |       coalesce(exact, 0) AS exact
             |FROM ho JOIN hc ON ho.b = hc.b LEFT JOIN ex ON ho.b = ex.b
             |ORDER BY ho.b""".stripMargin)),

    GQuery(
      "table_merkle_repair",
      (s, dir) => {
        // ANTI-ENTROPY REPAIR between two replicas of a keyed table
        // (the cross-region sync primitive): instead of shipping or
        // comparing 100 TB row-by-row, each side reduces to 64 BUCKET
        // FINGERPRINTS — an order-independent sum of row hashes plus a
        // count, one map-side-combinable aggregate each — and only the
        // buckets whose fingerprints disagree move: the replica's
        // diverged buckets are dropped and refilled from the primary.
        // Buckets are KEY RANGES (like the real formats' clustering),
        // so the injected divergence — corrupted payloads and missing
        // rows confined to the low quarter of the key domain — touches
        // a strict subset of buckets AT EVERY SCALE FACTOR;
        // `repaired_partial` asserts the repair moved SOME but not ALL
        // buckets (a whole-table copy fails the flag), and
        // `equal_after` re-fingerprints both sides post-repair. The
        // yearly aggregate of the repaired replica must hash-equal the
        // primary's — certifying the fingerprint diff found every
        // divergence the injection planted.
        val primary = orders(s, dir).select(
          col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100).cast("long").as("cents"),
          date_format(col("o_orderdate"), "yyyy").as("year"))
        val mx = primary.agg(max("k")).head().getLong(0)
        val qb = mx / 4
        def bucket = (col("k") * 64L / (mx + 1L)).cast("long")
        val replica = primary
          .where(not(col("k") <= qb && col("k") % 7 === 0)) // missing rows
          .withColumn("cents",
            when(col("k") <= qb && col("k") % 5 === 0, col("cents") + 9L)
              .otherwise(col("cents"))) // corrupted payloads
        // XOR-fold of row hashes: order-independent, overflow-free
        // under ANSI (a modular SUM would need try_add), collision-safe
        // here because keys are unique per replica; the count guards
        // the degenerate duplicate-pair cancellation anyway
        def fp(df: DataFrame) = df
          .groupBy(bucket.as("b"))
          .agg(bit_xor(xxhash64(col("k"), col("cents"), col("year"))).as("h"),
            count(lit(1)).as("n"))
        def divergedBuckets(a: DataFrame, b: DataFrame): Seq[Long] =
          fp(a).withColumnRenamed("h", "h1").withColumnRenamed("n", "n1")
            .join(fp(b).withColumnRenamed("h", "h2").withColumnRenamed("n", "n2"),
              Seq("b"), "full_outer")
            .where(not(col("h1") <=> col("h2")) || not(col("n1") <=> col("n2")))
            .select("b").collect().map(_.getLong(0)).toSeq
        val diverged = divergedBuckets(primary, replica)
        val dl = diverged.map(lit(_))
        val repaired =
          replica.where(not(bucket.isin(dl: _*)))
            .unionByName(primary.where(bucket.isin(dl: _*)))
        val equalAfter = divergedBuckets(primary, repaired).isEmpty
        repaired.groupBy("year")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          .withColumn("repaired_partial",
            lit(diverged.nonEmpty && diverged.size < 64))
          .withColumn("equal_after", lit(equalAfter))
          .orderBy("year")
      },
      Some("""SELECT strftime(o_orderdate, '%Y') AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS repaired_partial,
             |       true AS equal_after
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
