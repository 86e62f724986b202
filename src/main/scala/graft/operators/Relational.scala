package graft.operators

import graft.{GQuery, Scratch, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface over the star-schema testdata (SURVEY.md §2B).
  *
  * The reference has no relational operators beyond its dedup aggregate
  * (SURVEY §2A "does NOT have" list); these are the capability extensions
  * the north star requires, each a declarative DataFrame/SQL pipeline so
  * Catalyst gets predicate pushdown, column pruning, join selection and
  * AQE for free. Scale notes are on each query.
  */
object Relational {

  /** Dialect-neutral TPC-H Q10 text — runs verbatim in Spark AND DuckDB
    * (`q10_returned_customers` uses it as both query and oracle).
    */
  private val q10Sql: String =
    """SELECT c_custkey, c_name,
      |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 6))), 2)
      |            AS DOUBLE) AS revenue,
      |       round(c_acctbal, 2) AS acctbal, n_name
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Dialect-neutral recursive month spine + gap-filled order counts
    * (`sql_recursive_spine` query and oracle). CASTs keep DATE
    * arithmetic identical across engines (DuckDB DATE + INTERVAL is
    * TIMESTAMP; Spark's stays DATE).
    */
  private val recursiveSpineSql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
      |  WHERE m < DATE '2001-07-01')
      |SELECT CAST(m AS STRING) AS month, count(o_orderkey) AS n_orders
      |FROM months LEFT JOIN orders
      |  ON CAST(date_trunc('month', o_orderdate) AS DATE) = m
      |GROUP BY m ORDER BY month""".stripMargin

  /** Dialect-neutral LATERAL top-1-per-key (`sql_lateral_topk`). */
  private val lateralTopkSql: String =
    """SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total
      |FROM customer, LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |                        WHERE o_custkey = c_custkey
      |                        ORDER BY o_totalprice DESC, o_orderkey
      |                        LIMIT 1) AS o
      |WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.t(s, dir, n)

  private def tsNtz(lit0: String): Column = expr(s"TIMESTAMP_NTZ '$lit0'")

  val all: Seq[GQuery] = Seq(

    // ---------------------------------------------------------------- scans
    GQuery(
      "scan_filter_project",
      (s, dir) => {
        // Projection + predicate — both push to the parquet scan
        // (PushedFilters / ReadSchema in .explain).
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= tsNtz("1999-01-01 00:00:00") &&
            col("l_discount") > 0.08 && col("l_quantity") < 10)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price"),
            round(col("l_discount"), 2).as("disc"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       round(l_extendedprice, 2) AS price, round(l_discount, 2) AS disc
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_discount > 0.08 AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    GQuery(
      "scan_schema_evolution",
      (s, dir) => {
        // SCHEMA-EVOLUTION SCAN: a dataset written over time with an
        // ADDED column — generation 1 (orders before 1997) lacks
        // o_orderpriority, generation 2 carries it — read as ONE frame
        // via mergeSchema; old-generation rows surface the new column
        // as NULL. This is the normal state of any corpus accumulated
        // for years, and the differential pins Spark's merged-scan
        // semantics (null back-fill, per-file projection) against the
        // oracle's CASE-based reconstruction over unified history.
        // Scale note: mergeSchema reconciles footers ACROSS ALL FILES
        // at planning time — at 100 TB declare the superset schema
        // instead (`.schema(...)` on read, same null back-fill, zero
        // footer sweep); mergeSchema here IS the semantics under test.
        val orders = t(s, dir, "orders")
        val cut = lit("1997-01-01").cast("timestamp")
        val base = Scratch.dir("evo")
        orders.where(col("o_orderdate") < cut)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$base/gen1")
        orders.where(col("o_orderdate") >= cut)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$base/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$base/gen1", s"$base/gen2")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
            count(col("o_orderpriority")).as("n_with_priority"),
            countDistinct(col("o_orderpriority")).as("n_priorities"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       CAST(count(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
             |                       THEN o_orderpriority END) AS BIGINT) AS n_with_priority,
             |       CAST(count(DISTINCT CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
             |                                THEN o_orderpriority END) AS BIGINT) AS n_priorities
             |FROM orders""".stripMargin)),

    // ----------------------------------------------------------- aggregates
    GQuery(
      "q1_pricing",
      (s, dir) => {
        // TPC-H Q1 shape: single scan → hash aggregate on low-cardinality
        // keys. Partial (map-side) aggregation means the exchange moves
        // only |groups|×|tasks| rows — scale-proof at 100 TB.
        t(s, dir, "lineitem")
          .where(col("l_shipdate") <= tsNtz("2000-09-02 00:00:00"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 2)       AS sum_qty,
             |       round(sum(l_extendedprice), 2)  AS sum_base_price,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             |       round(avg(l_quantity), 4)       AS avg_qty,
             |       round(avg(l_extendedprice), 4)  AS avg_price,
             |       round(avg(l_discount), 4)       AS avg_disc,
             |       count(*)                        AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      bench = true),

    GQuery(
      "agg_stats",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("l_partkey")).as("n_parts"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(min("l_extendedprice"), 2).as("min_price"),
            round(max("l_extendedprice"), 2).as("max_price"),
            round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
            round(var_samp(col("l_quantity")), 4).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       count(*) AS n,
             |       count(DISTINCT l_partkey) AS n_parts,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       round(min(l_extendedprice), 2) AS min_price,
             |       round(max(l_extendedprice), 2) AS max_price,
             |       round(stddev_samp(l_quantity), 4) AS sd_qty,
             |       round(var_samp(l_quantity), 4) AS var_qty,
             |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             |       round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "agg_rollup",
      (s, dir) => {
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("s"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS s
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    GQuery(
      "agg_cube",
      (s, dir) => {
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(avg("l_quantity"), 4).as("aq"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n, round(avg(l_quantity), 4) AS aq
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    GQuery(
      "agg_grouping_sets",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    GQuery(
      "agg_distinct",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---------------------------------------------------------------- joins
    GQuery(
      "q3_shipping",
      (s, dir) => {
        // 3-way join: dims filtered BEFORE the join (Catalyst pushes the
        // predicate below the exchange); customer/orders are small → AQE
        // turns these into broadcast joins at runtime.
        val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders").where(col("o_orderdate") < tsNtz("1998-03-15 00:00:00"))
        val l = t(s, dir, "lineitem").where(col("l_shipdate") > tsNtz("1998-03-15 00:00:00"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .orderBy(desc("revenue"), asc("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |       o_orderpriority
             |FROM customer
             |JOIN orders   ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-03-15'
             |  AND l_shipdate  > TIMESTAMP '1998-03-15'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      bench = true),

    GQuery(
      "q5_region_revenue",
      (s, dir) => {
        // 6-way star join. Dimension chain region→nation is tiny →
        // broadcast; the lineitem⋈orders fact join shuffles on orderkey
        // once. Join order: filter region first so the nation broadcast
        // is already pruned.
        val r = t(s, dir, "region").where(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .where(col("o_orderdate") >= tsNtz("1996-01-01 00:00:00") &&
            col("o_orderdate") < tsNtz("1997-01-01 00:00:00"))
        val l = t(s, dir, "lineitem")
        val su = t(s, dir, "supplier")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM customer, orders, lineitem, supplier, nation, region
             |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
             |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             |  AND r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate <  TIMESTAMP '1997-01-01'
             |GROUP BY n_name ORDER BY n_name""".stripMargin),
      bench = true),

    GQuery(
      "join_broadcast",
      (s, dir) => {
        // Explicit broadcast of the small dimension — at 100 TB `part`
        // stays dimension-sized, so a map-side join avoids shuffling the
        // fact table entirely.
        val p = t(s, dir, "part")
        t(s, dir, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      bench = true),

    GQuery(
      "join_semi",
      (s, dir) => {
        // LEFT SEMI = EXISTS: no payload from the right side crosses the
        // exchange, and duplicates on the right can't inflate the output.
        val urgent = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        t(s, dir, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "join_anti",
      (s, dir) => {
        // LEFT ANTI = NOT EXISTS: customers with no big-ticket order.
        val big = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
        t(s, dir, "customer")
          .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
             |ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "join_outer_agg",
      (s, dir) => {
        // LEFT OUTER preserving unmatched left rows; aggregates coalesced.
        val o = t(s, dir, "orders").where(col("o_totalprice") > 450000.0)
        t(s, dir, "customer")
          .join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |       round(coalesce(sum(o_totalprice), 0), 2) AS total
             |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
             |  ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "join_sortmerge",
      (s, dir) => {
        // The AT-SCALE fact-fact join path made explicit: lineitem ⋈
        // orders with a merge-join hint, so the plan is the
        // SortMergeJoin both sides would get at 100 TB where neither
        // fits a broadcast (AQE picks broadcast at this SF otherwise —
        // the hint pins the plan the scale design reasons about; a
        // ScalaTest gate asserts SortMergeJoinExec is present). Both
        // sides shuffle on orderkey once; bucketing both tables by
        // orderkey removes even that (LayoutSpec's zero-exchange join).
        val l = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
        val o = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        l.hint("merge")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             |       count(*)::BIGINT AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    GQuery(
      "q10_returned_customers",
      (s, dir) => {
        // TPC-H Q10 shape, run as RAW SQL through the engine's catalog —
        // the text below is dialect-neutral and is EXACTLY the oracle
        // text, so the SQL surface itself (parser → Catalyst → plan) is
        // what's being differentially tested. Plan: two broadcast dims
        // + one fact-fact shuffle, TakeOrderedAndProject for top-20.
        Tables.registerAll(s, dir)
        s.sql(q10Sql)
      },
      Some(q10Sql)),

    GQuery(
      "q18_large_orders",
      (s, dir) => {
        // TPC-H Q18 shape: IN over an AGGREGATED subquery (orders whose
        // line quantities sum past a threshold), then enrich. Catalyst
        // plans the IN as a left-semi join against the aggregate — the
        // aggregate side collapses to |qualifying orders| rows before
        // any join, so the pattern scales as two keyed exchanges.
        val big = t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sum("l_quantity").as("sum_qty"))
          .where(col("sum_qty") > 180)
        t(s, dir, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            round(col("o_totalprice"), 2).as("totalprice"),
            round(col("sum_qty"), 2).as("sum_qty"))
          .orderBy(desc("sum_qty"), asc("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, o_orderkey,
             |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |       round(o_totalprice, 2) AS totalprice,
             |       round(sum_qty, 2) AS sum_qty
             |FROM orders
             |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
             |      FROM lineitem GROUP BY l_orderkey
             |      HAVING sum(l_quantity) > 180) big
             |  ON o_orderkey = big.l_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin)),

    GQuery(
      "sql_recursive_spine",
      (s, dir) => {
        // RECURSIVE CTE surface (Spark 4 WITH RECURSIVE): build a month
        // spine by recursion, LEFT-join order counts onto it — the
        // gap-filling idiom that reports 0 for months with no orders
        // (a plain GROUP BY silently drops them). Dialect-neutral text
        // = the oracle text, so the recursive-CTE execution itself is
        // differentially tested. The spine is O(months) rows — the
        // recursion never touches fact-table volume.
        Tables.registerAll(s, dir)
        s.sql(recursiveSpineSql)
      },
      Some(recursiveSpineSql)),

    GQuery(
      "sql_lateral_topk",
      (s, dir) => {
        // LATERAL (correlated table subquery) surface: top-1 order per
        // BUILDING customer via a per-row ORDER BY..LIMIT subquery.
        // Catalyst rewrites the lateral into a window/join plan — no
        // per-row re-execution survives in the physical plan. Shared
        // text with the oracle: the LATERAL decorrelation is what's
        // being differentially tested.
        Tables.registerAll(s, dir)
        s.sql(lateralTopkSql)
      },
      Some(lateralTopkSql)),

    GQuery(
      "subquery_not_in",
      (s, dir) => {
        // NOT IN subquery — three-valued-logic anti join (Spark plans a
        // null-aware anti join: one NULL in the subquery empties the
        // result; RelationalSpec gates that case on a poisoned input).
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey, c_mktsegment
                |FROM customer
                |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                |                        WHERE o_totalprice > 450000.0)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_mktsegment
             |FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
             |                        WHERE o_totalprice > 450000.0)
             |ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "join_full_outer",
      (s, dir) => {
        // FULL OUTER of two per-user activity aggregates — all three
        // match cases occur (both sides, left-only, right-only); keys
        // and counts coalesced. Both inputs aggregate before joining,
        // so the exchange carries one row per (user, side).
        val ev = Tables.t(s, dir, "events")
        def side(tp: String, k: String, n: String) =
          ev.where(col("event_type") === tp && col("value") > 95.0)
            .groupBy(col("user_id").as(k)).agg(count(lit(1)).as(n))
        side("purchase", "pu", "n_purch")
          .join(side("click", "cu", "n_click"), col("pu") === col("cu"), "full")
          .select(coalesce(col("pu"), col("cu")).as("user_id"),
            coalesce(col("n_purch"), lit(0L)).as("n_purch"),
            coalesce(col("n_click"), lit(0L)).as("n_click"))
          .orderBy("user_id")
      },
      Some("""WITH p AS (SELECT user_id, count(*) AS n_purch FROM events
             |           WHERE event_type = 'purchase' AND value > 95.0 GROUP BY user_id),
             |     c AS (SELECT user_id, count(*) AS n_click FROM events
             |           WHERE event_type = 'click' AND value > 95.0 GROUP BY user_id)
             |SELECT coalesce(p.user_id, c.user_id) AS user_id,
             |       coalesce(n_purch, 0) AS n_purch,
             |       coalesce(n_click, 0) AS n_click
             |FROM p FULL JOIN c ON p.user_id = c.user_id
             |ORDER BY user_id""".stripMargin)),

    GQuery(
      "subquery_correlated",
      (s, dir) => {
        // Correlated scalar subquery — Catalyst decorrelates it into an
        // aggregate + join, which is the scalable plan.
        Tables.registerAll(s, dir)
        s.sql("""SELECT c_custkey, round(c_acctbal, 2) AS bal
                |FROM customer c
                |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                |                   WHERE c2.c_nationkey = c.c_nationkey)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, round(c_acctbal, 2) AS bal
             |FROM customer c
             |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
             |                   WHERE c2.c_nationkey = c.c_nationkey)
             |ORDER BY c_custkey""".stripMargin)),

    // -------------------------------------------------------------- windows
    GQuery(
      "window_topk_per_group",
      (s, dir) => {
        // Top-3-per-key via row_number: one shuffle on the partition key,
        // in-partition sort only (no global sort).
        val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, rn FROM (
             |  SELECT o_custkey, o_orderkey,
             |         row_number() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3
             |ORDER BY o_custkey, rn""".stripMargin),
      bench = true),

    GQuery(
      "window_running",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .withColumn("running_total", round(sum("o_totalprice").over(w), 2))
          .select("o_custkey", "o_orderkey", "running_total")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    GQuery(
      "window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, dir, "orders")
          .withColumn("delta", round(col("o_totalprice") - lag(col("o_totalprice"), 1, 0.0).over(w), 2))
          .withColumn("next_key", lead(col("o_orderkey"), 1, -1L).over(w))
          .select("o_custkey", "o_orderkey", "delta", "next_key")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       round(o_totalprice - lag(o_totalprice, 1, 0.0) OVER w, 2) AS delta,
             |       lead(o_orderkey, 1, -1) OVER w AS next_key
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    GQuery(
      "window_rank_ntile",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .select("o_custkey", "o_orderkey", "rnk", "drnk", "quartile")
          .orderBy("o_custkey", "rnk", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       rank()       OVER w AS rnk,
             |       dense_rank() OVER w AS drnk,
             |       ntile(4)     OVER w AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)),

    // --------------------------------------------------------- sort / top-k
    GQuery(
      "sort_topk",
      (s, dir) => {
        // ORDER BY + LIMIT compiles to TakeOrderedAndProject: each task
        // keeps a k-heap, driver merges k×tasks rows — no global sort.
        t(s, dir, "lineitem")
          .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
          .limit(100)
          .select(col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price"))
      },
      Some("""SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
      bench = true),

    // --------------------------------------------------------------- set ops
    GQuery(
      "set_union",
      (s, dir) => {
        val a = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("k"))
        a.union(b).distinct().orderBy("k")
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |UNION
             |SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
             |ORDER BY k""".stripMargin)),

    GQuery(
      "set_intersect",
      (s, dir) => {
        val a = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("k"))
        a.intersect(b).orderBy("k")
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
             |ORDER BY k""".stripMargin)),

    GQuery(
      "set_except",
      (s, dir) => {
        val a = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val b = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("k"))
        a.except(b).orderBy("k")
      },
      Some("""SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
             |ORDER BY k""".stripMargin)),

    // ------------------------------------------------------ scalar functions
    GQuery(
      "scalar_string",
      (s, dir) => {
        t(s, dir, "customer")
          .select(
            col("c_custkey"),
            upper(col("c_name")).as("up"),
            lower(col("c_mktsegment")).as("lo"),
            substring(col("c_name"), 1, 8).as("sub"),
            concat(col("c_name"), lit("#"), col("c_mktsegment")).as("cc"),
            length(col("c_name")).cast("long").as("len"),
            regexp_replace(col("c_name"), "Customer", "Cust").as("rep"),
            lpad(col("c_mktsegment"), 12, "_").as("lp"),
            reverse(col("c_mktsegment")).as("rev"),
            instr(col("c_name"), "9").cast("long").as("pos"),
            split(col("c_name"), "#").getItem(1).as("numpart"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |       upper(c_name) AS up, lower(c_mktsegment) AS lo,
             |       substring(c_name, 1, 8) AS sub,
             |       c_name || '#' || c_mktsegment AS cc,
             |       length(c_name) AS len,
             |       regexp_replace(c_name, 'Customer', 'Cust', 'g') AS rep,
             |       lpad(c_mktsegment, 12, '_') AS lp,
             |       reverse(c_mktsegment) AS rev,
             |       strpos(c_name, '9') AS pos,
             |       string_split(c_name, '#')[2] AS numpart
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "scalar_date",
      (s, dir) => {
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
            year(col("o_orderdate")).cast("long").as("y"),
            month(col("o_orderdate")).cast("long").as("m"),
            dayofmonth(col("o_orderdate")).cast("long").as("dd"),
            quarter(col("o_orderdate")).cast("long").as("q"),
            datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
            date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
            date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("som"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       strftime(o_orderdate, '%Y-%m-%d') AS d,
             |       year(o_orderdate)  AS y,
             |       month(o_orderdate) AS m,
             |       day(o_orderdate)   AS dd,
             |       quarter(o_orderdate) AS q,
             |       datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
             |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
             |       strftime(last_day(o_orderdate), '%Y-%m-%d') AS eom,
             |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS som
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "scalar_math",
      (s, dir) => {
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(abs(col("l_discount") - 0.05), 4).as("a"),
            ceil(col("l_extendedprice")).cast("long").as("ce"),
            floor(col("l_extendedprice")).cast("long").as("fl"),
            round(sqrt(col("l_quantity")), 6).as("sq"),
            round(log(col("l_extendedprice")), 6).as("lnp"),
            round(exp(col("l_discount")), 6).as("ex"),
            round(pow(col("l_quantity"), 2), 4).as("pw"),
            (col("l_linenumber") % 3).cast("long").as("md"),
            round(log10(col("l_extendedprice")), 6).as("lg"),
            signum(col("l_discount") - 0.05).cast("long").as("sg"),
            round(greatest(col("l_quantity"), lit(10.0)), 2).as("gr"),
            round(least(col("l_tax"), lit(0.04)), 4).as("ls"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       round(abs(l_discount - 0.05), 4) AS a,
             |       CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
             |       CAST(floor(l_extendedprice) AS BIGINT) AS fl,
             |       round(sqrt(l_quantity), 6) AS sq,
             |       round(ln(l_extendedprice), 6) AS lnp,
             |       round(exp(l_discount), 6) AS ex,
             |       round(pow(l_quantity, 2), 4) AS pw,
             |       CAST(l_linenumber % 3 AS BIGINT) AS md,
             |       round(log10(l_extendedprice), 6) AS lg,
             |       CAST(sign(l_discount - 0.05) AS BIGINT) AS sg,
             |       round(greatest(l_quantity, 10.0), 2) AS gr,
             |       round(least(l_tax, 0.04), 4) AS ls
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    GQuery(
      "scalar_case_null",
      (s, dir) => {
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            when(col("o_totalprice") > 300000.0, "big")
              .when(col("o_totalprice") > 150000.0, "mid")
              .otherwise("small").as("bucket"),
            coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st"),
            (col("o_orderstatus") === "F").cast("long").as("is_f"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       CASE WHEN o_totalprice > 300000.0 THEN 'big'
             |            WHEN o_totalprice > 150000.0 THEN 'mid'
             |            ELSE 'small' END AS bucket,
             |       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st,
             |       CAST(o_orderstatus = 'F' AS BIGINT) AS is_f
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------- arrays / higher-order
    GQuery(
      "array_hof_agg",
      (s, dir) => {
        // collect → sort → higher-order aggregate: exercises array
        // construction and fold (`aggregate`) — the HOF result must equal
        // the plain sum, which is what the oracle computes.
        t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(
            count(lit(1)).as("n_lines"),
            concat_ws(",", transform(array_sort(collect_list(col("l_linenumber"))), _.cast("string"))).as("lns"),
            collect_list(col("l_quantity")).as("qs"))
          .select(
            col("l_orderkey"), col("n_lines"), col("lns"),
            round(aggregate(col("qs"), lit(0.0), (acc, x) => acc + x), 2).as("qty_hof"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, count(*) AS n_lines,
             |       string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS lns,
             |       round(sum(l_quantity), 2) AS qty_hof
             |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // ---------------------------------------------------------------- pivot
    GQuery(
      "pivot_returnflag",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy("l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(round(sum("l_quantity"), 2))
          .select(col("l_linestatus"),
            coalesce(col("A"), lit(0.0)).as("A"),
            coalesce(col("N"), lit(0.0)).as("N"),
            coalesce(col("R"), lit(0.0)).as("R"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |       round(coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'), 0), 2) AS "A",
             |       round(coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'N'), 0), 2) AS "N",
             |       round(coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 0), 2) AS "R"
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    GQuery(
      "q6_forecast_revenue",
      (s, dir) => {
        // TPC-H Q6 shape: ultra-selective scan-aggregate; every predicate
        // reaches the parquet reader (PushedFilters), so at 100 TB this
        // reads a fraction of row groups via min/max stats.
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= tsNtz("1997-01-01 00:00:00") &&
            col("l_shipdate") < tsNtz("1998-01-01 00:00:00") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate <  TIMESTAMP '1998-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
      bench = true),

    GQuery(
      "q12_priority_buckets",
      (s, dir) => {
        // TPC-H Q12 shape: join + CASE-bucketed conditional aggregation.
        val o = t(s, dir, "orders")
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= tsNtz("1997-01-01 00:00:00") &&
            col("l_shipdate") < tsNtz("1998-01-01 00:00:00"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_linestatus")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("low_line_count"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |  AND l_shipdate <  TIMESTAMP '1998-01-01'
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    GQuery(
      "q14_promo_share",
      (s, dir) => {
        // TPC-H Q14 shape: ratio of a conditional aggregate to the total.
        val p = t(s, dir, "part")
        t(s, dir, "lineitem")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) *
            sum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
            sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("raw"))
          .select(round(col("raw"), 4).as("promo_share"))
      },
      Some("""SELECT round(100.0 *
             |         sum(CASE WHEN p_type = 'PROMO'
             |                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
             |         sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    GQuery(
      "join_range_nonequi",
      (s, dir) => {
        // Non-equi (theta) join: bucket order values into price tiers via
        // BETWEEN. The tier table is tiny → broadcast nested loop, the
        // only sane physical plan for a band join.
        import s.implicits._
        val tiers = Seq(
          ("bronze", 0.0, 100000.0),
          ("silver", 100000.0, 300000.0),
          ("gold", 300000.0, 1000000.0)
        ).toDF("tier", "lo", "hi")
        t(s, dir, "orders")
          .join(broadcast(tiers),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("tier")
      },
      Some("""WITH tiers(tier, lo, hi) AS (VALUES
             |  ('bronze', 0.0, 100000.0),
             |  ('silver', 100000.0, 300000.0),
             |  ('gold', 300000.0, 1000000.0))
             |SELECT tier, count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY tier ORDER BY tier""".stripMargin)),

    GQuery(
      "join_band_strategy",
      (s, dir) => {
        // The SAME band join through the library's CUSTOM WHOLE-OPERATOR
        // path (plans/BandJoin: custom LogicalPlan → SparkStrategy →
        // physical SparkPlan doing broadcast + binary search) instead of
        // the BroadcastNestedLoopJoin above — O(log bands) per probe row
        // instead of O(bands). Same oracle as join_range_nonequi: the
        // hash match proves the custom operator's semantics.
        import s.implicits._
        val tiers = Seq(
          ("bronze", 0.0, 100000.0),
          ("silver", 100000.0, 300000.0),
          ("gold", 300000.0, 1000000.0)
        ).toDF("tier", "lo", "hi")
        graft.plans.BandJoin.joinByBand(
            t(s, dir, "orders"), tiers, "o_totalprice", "lo", "hi")
          .groupBy("tier")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("tier")
      },
      Some("""WITH tiers(tier, lo, hi) AS (VALUES
             |  ('bronze', 0.0, 100000.0),
             |  ('silver', 100000.0, 300000.0),
             |  ('gold', 300000.0, 1000000.0))
             |SELECT tier, count(*) AS n, round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
             |GROUP BY tier ORDER BY tier""".stripMargin)),

    // ------------------------------------------------------- time windows
    GQuery(
      "time_tumbling",
      (s, dir) => {
        // Batch form of the streaming tumbling window (same `window()`
        // expression Structured Streaming uses).
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("event_type"), col("n"), col("sv"))
          .orderBy("ws", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ws,
             |       event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    GQuery(
      "time_sliding",
      (s, dir) => {
        // Sliding window (1h length, 30m slide) — each event lands in 2
        // windows; counts per (window, type).
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"), col("n"))
          .orderBy("ws")
      },
      Some("""WITH slid AS (
             |  SELECT ts::TIMESTAMP AS t,
             |         unnest([to_timestamp(epoch(date_trunc('hour', ts::TIMESTAMP))
             |                  + CASE WHEN minute(ts::TIMESTAMP) >= 30 THEN 1800 ELSE 0 END),
             |                 to_timestamp(epoch(date_trunc('hour', ts::TIMESTAMP))
             |                  + CASE WHEN minute(ts::TIMESTAMP) >= 30 THEN 0 ELSE -1800 END)]) AS ws
             |  FROM events)
             |SELECT strftime(ws AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS ws, count(*) AS n
             |FROM slid GROUP BY 1 ORDER BY ws""".stripMargin))
  )
}
