package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second wave of function-surface coverage: regex, conditional
  * aggregates, argmin/argmax with deterministic total orders, exact
  * percentiles, interval range frames, grouping indicators.
  */
object MoreOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "agg_bitmap_distinct",
      (s, dir) => {
        // EXACT distributed COUNT DISTINCT via fixed-width BITMAP
        // BLOCKS (the ClickHouse/Doris bitmap-index pattern): user ids
        // fold into 64-bit blocks with bit_or — an aggregate that
        // combines map-side — then popcounts sum per group. Unlike
        // count(DISTINCT), which expands to a two-phase distinct
        // shuffle of EVERY (group, user) pair, this shuffles at most
        // |groups × touched blocks| longs regardless of row count, and
        // unlike approx_count_distinct it is exact. The oracle IS
        // count(DISTINCT …) — the bitmap must reproduce it bit-perfect.
        Tables.t(s, dir, "events")
          .select(col("event_type"), col("user_id"))
          .groupBy(col("event_type"),
            (col("user_id") / 64).cast("long").as("blk"))
          .agg(bit_or(expr("shiftleft(1L, cast(pmod(user_id, 64) as int))"))
            .as("bits"))
          .groupBy("event_type")
          .agg(sum(bit_count(col("bits"))).cast("long").as("n_users"),
            count(lit(1)).as("n_blocks"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       count(DISTINCT user_id) AS n_users,
             |       count(DISTINCT user_id // 64) AS n_blocks
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "events_distinct_sliding_bitmap",
      (s, dir) => {
        // EXACT trailing-7-day distinct users per day — the sliding
        // window where HLL would approximate and count(DISTINCT) per
        // window rescans 7× the data. Shape: reduce once to DAILY
        // bitmap blocks (map-side-combinable bit_or, the same blocks as
        // agg_bitmap_distinct), then each daily block FANS OUT to the ≤7
        // windows it serves (a map-side explode of factor 7 — no range
        // join, no re-scan) and the per-window OR-merge + popcount runs
        // on block-sized rows. At 100 TB the daily bitmap layer is the
        // only corpus-sized pass; every window after that costs
        // |days × touched blocks|. The oracle is the exact per-window
        // count(DISTINCT) — the merge must reproduce it bit-perfect.
        val daily = Tables.t(s, dir, "events")
          .select(to_date(col("ts")).as("d"), col("user_id"))
          .groupBy(col("d"), (col("user_id") / 64).cast("long").as("blk"))
          .agg(bit_or(expr("shiftleft(1L, cast(pmod(user_id, 64) as int))"))
            .as("bits"))
        val days = daily.select(col("d").as("day")).distinct()
        daily
          .withColumn("day", explode(expr("sequence(d, date_add(d, 6))")))
          .join(broadcast(days), Seq("day"), "left_semi")
          .groupBy("day", "blk")
          .agg(bit_or(col("bits")).as("bits"))
          .groupBy("day")
          .agg(sum(bit_count(col("bits"))).cast("long").as("n_users_7d"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_users_7d"))
          .orderBy("day")
      },
      Some("""WITH e AS (SELECT DISTINCT ts::DATE AS d, user_id FROM events),
             |  days AS (SELECT DISTINCT d AS day FROM e)
             |SELECT strftime(day, '%Y-%m-%d') AS day,
             |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users_7d
             |FROM days JOIN e ON e.d BETWEEN day - 6 AND day
             |GROUP BY day ORDER BY day""".stripMargin)),

    GQuery(
      "agg_kmv_intersect",
      (s, dir) => {
        // SET-EXPRESSION CARDINALITY from MERGEABLE KMV (k-minimum-
        // values / theta-sketch family) sketches: the distinct-user
        // sets "viewers" and "buyers" each reduce to their k=64
        // smallest portable hashes; the MERGED sketch estimates
        // |A∪B| = (k−1)·2³²/h_k and Jaccard = (fraction of the union
        // sketch in both), so |A∩B| needs only the two k-value
        // sketches — never the sets. Hash-seeded, so the "estimate" is
        // bit-reproducible cross-engine, and the exact intersection
        // rides along for the error check. Scale: each sketch is a
        // per-set top-k (map-side combinable); the merge touches 2k
        // rows. The global orderings below run on ≤|distinct users|
        // rows — already reduced frames.
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val ev = Tables.t(s, dir, "events")
          .where(col("event_type").isin("view", "purchase"))
          .select(col("event_type").as("t"), col("user_id")).distinct()
          .withColumn("h",
            DedupOps.portableHash(col("user_id").cast("string"), 3))
        val w = Window.partitionBy("t").orderBy("h")
        val sk = ev.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
          .select(col("t"), col("h"))
        val merged = sk.groupBy("h")
          .agg(max(when(col("t") === "view", 1L).otherwise(0L)).as("in_a"),
            max(when(col("t") === "purchase", 1L).otherwise(0L)).as("in_b"))
        val wu = Window.orderBy("h")
        val top = merged.withColumn("rn", row_number().over(wu))
          .where(col("rn") <= k)
        val est = top.agg(
          max("h").as("hk"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("n_both"))
          .select(
            round(lit((k - 1).toDouble) * lit(4294967296.0) / col("hk"), 2)
              .as("est_union"),
            round(col("n_both") / lit(k.toDouble) *
              (lit((k - 1).toDouble) * lit(4294967296.0) / col("hk")), 2)
              .as("est_intersect"))
        val exact = ev.groupBy("user_id")
          .agg(max(when(col("t") === "view", 1L).otherwise(0L)).as("a"),
            max(when(col("t") === "purchase", 1L).otherwise(0L)).as("b"))
          .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
            .as("exact_intersect"))
        est.crossJoin(exact)
          .select(lit(k.toLong).as("k"), col("exact_intersect"),
            col("est_intersect"), col("est_union"))
      },
      Some("""WITH ev AS (SELECT DISTINCT event_type AS t, user_id FROM events
             |            WHERE event_type IN ('view', 'purchase')),
             |  h AS (SELECT t, user_id,
             |               ('0x' || substring(md5('3:' || user_id), 1, 8))::BIGINT AS h
             |        FROM ev),
             |  sk AS (SELECT t, h FROM (
             |           SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h)
             |         WHERE rn <= 64),
             |  m AS (SELECT h, max(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS in_a,
             |               max(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS in_b
             |        FROM sk GROUP BY h),
             |  top AS (SELECT * FROM (
             |            SELECT *, row_number() OVER (ORDER BY h) AS rn FROM m)
             |          WHERE rn <= 64),
             |  est AS (SELECT round(63.0 * 4294967296.0 / max(h), 2) AS est_union,
             |                 round(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) / 64.0
             |                       * (63.0 * 4294967296.0 / max(h)), 2) AS est_intersect
             |          FROM top),
             |  ex AS (SELECT CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |                  AS exact_intersect
             |         FROM (SELECT user_id, max(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS a,
             |                      max(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS b
             |               FROM h GROUP BY user_id))
             |SELECT CAST(64 AS BIGINT) AS k, exact_intersect, est_intersect, est_union
             |FROM est, ex""".stripMargin)),

    GQuery(
      "parts_pareto_frontier",
      (s, dir) => {
        // PARETO FRONTIER (2-D skyline): parts not dominated on
        // (price ↓, size ↑). The naive skyline is an O(n²) dominance
        // self-join; sorted by (price ASC, size DESC, key ASC) it
        // collapses to ONE window pass — a row survives iff its size
        // strictly exceeds every earlier row's (running max), because
        // any earlier row has price <= ours. Equal (price, size)
        // duplicates resolve to the smallest key (the running max
        // absorbs the first copy). One sort, zero joins.
        import org.apache.spark.sql.expressions.Window
        val p = Tables.t(s, dir, "part")
          .select(col("p_partkey"),
            round(col("p_retailprice") * 100).cast("long").as("price_cents"),
            col("p_size").cast("long").as("p_size"))
        val w = Window
          .orderBy(col("price_cents"), col("p_size").desc, col("p_partkey"))
          .rowsBetween(Window.unboundedPreceding, -1)
        p.withColumn("prev_max", max("p_size").over(w))
          .where(col("prev_max").isNull || col("p_size") > col("prev_max"))
          .select(col("p_partkey"), col("price_cents"), col("p_size"))
          .orderBy("price_cents", "p_partkey")
      },
      Some("""WITH p AS (SELECT p_partkey,
             |                  CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             |                  CAST(p_size AS BIGINT) AS p_size
             |           FROM part),
             |  r AS (SELECT *, max(p_size) OVER (ORDER BY price_cents, p_size DESC, p_partkey
             |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
             |        FROM p)
             |SELECT p_partkey, price_cents, p_size
             |FROM r WHERE prev_max IS NULL OR p_size > prev_max
             |ORDER BY price_cents, p_partkey""".stripMargin)),

    GQuery(
      "scalar_regex",
      (s, dir) => {
        Tables.t(s, dir, "customer")
          .select(
            col("c_custkey"),
            regexp_extract(col("c_name"), "#(0*)([1-9][0-9]*)", 2).as("num"),
            col("c_name").rlike("[0-9]{3}").cast("long").as("has3digits"),
            translate(col("c_name"), "Cusmr", "cUSMR").as("tr"),
            repeat(col("c_mktsegment"), 2).as("rep"),
            ascii(col("c_name")).cast("long").as("asc"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey,
             |       regexp_extract(c_name, '#(0*)([1-9][0-9]*)', 2) AS num,
             |       CAST(regexp_matches(c_name, '[0-9]{3}') AS BIGINT) AS has3digits,
             |       translate(c_name, 'Cusmr', 'cUSMR') AS tr,
             |       repeat(c_mktsegment, 2) AS rep,
             |       CAST(ascii(c_name) AS BIGINT) AS asc
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    GQuery(
      "agg_conditional",
      (s, dir) => {
        // count_if / bool aggregates / filtered sums / argmin-argmax with
        // a DETERMINISTIC total order (price can tie, so the order value
        // is price composed with the unique line key — exact BIGINT
        // arithmetic in both engines).
        val lineKey = col("l_orderkey") * 10 + col("l_linenumber")
        val ordVal = (round(col("l_extendedprice") * 100).cast("long") * 10000000L) + lineKey
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count_if(col("l_tax") > 0.05).as("n_hightax"),
            bool_and(col("l_quantity") > 0).as("all_pos"),
            bool_or(col("l_discount") > 0.09).as("any_bigdisc"),
            round(sum(when(col("l_linestatus") === "F", col("l_quantity")).otherwise(0.0)), 2).as("qty_f"),
            min_by(lineKey, ordVal).as("cheapest_line"),
            max_by(lineKey, ordVal).as("priciest_line"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       count(*) FILTER (l_tax > 0.05) AS n_hightax,
             |       bool_and(l_quantity > 0) AS all_pos,
             |       bool_or(l_discount > 0.09) AS any_bigdisc,
             |       round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS qty_f,
             |       arg_min(l_orderkey * 10 + l_linenumber,
             |               CAST(round(l_extendedprice * 100) AS BIGINT) * 10000000
             |                 + l_orderkey * 10 + l_linenumber) AS cheapest_line,
             |       arg_max(l_orderkey * 10 + l_linenumber,
             |               CAST(round(l_extendedprice * 100) AS BIGINT) * 10000000
             |                 + l_orderkey * 10 + l_linenumber) AS priciest_line
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "agg_percentile",
      (s, dir) => {
        // Exact interpolated percentiles (Spark percentile ≡ DuckDB
        // quantile_cont ≡ SQL percentile_cont). The 100 TB alternative is
        // approx_percentile (t-digest) — engine-specific, so the exact
        // form carries the oracle.
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(median(col("l_quantity")), 4).as("med_qty"),
            round(percentile(col("l_quantity"), lit(0.9)), 4).as("p90_qty"),
            round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
             |       round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
             |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "window_range_frame",
      (s, dir) => {
        // Interval RANGE frame over event time: 30-day trailing revenue
        // per customer. RANGE (not ROWS) makes same-date rows frame-
        // equal, so the result is deterministic under date ties.
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_orderkey, o_custkey,
                |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                |             ORDER BY o_orderdate
                |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2) AS r30
                |FROM orders ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey,
             |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |             ORDER BY o_orderdate
             |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2) AS r30
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "window_dist",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT o_custkey, o_orderkey,
                |       round(percent_rank() OVER w, 6) AS pr,
                |       round(cume_dist() OVER w, 6) AS cd,
                |       first_value(o_orderkey) OVER w AS fv,
                |       last_value(o_orderkey)
                |         OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
                |       nth_value(o_orderkey, 2) OVER w AS nv
                |FROM orders
                |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
                |ORDER BY o_custkey, o_orderkey""".stripMargin)
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       round(percent_rank() OVER w, 6) AS pr,
             |       round(cume_dist() OVER w, 6) AS cd,
             |       first_value(o_orderkey) OVER w AS fv,
             |       last_value(o_orderkey)
             |         OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv,
             |       nth_value(o_orderkey, 2) OVER w AS nv
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    GQuery(
      "unpivot_metrics",
      (s, dir) => {
        // Wide→long reshaping (unpivot/melt) then aggregate per metric.
        Tables.t(s, dir, "lineitem")
          .select("l_returnflag", "l_quantity", "l_discount", "l_tax")
          .unpivot(
            ids = Array(col("l_returnflag")),
            values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
            variableColumnName = "metric", valueColumnName = "v")
          .groupBy("l_returnflag", "metric")
          .agg(round(sum("v"), 2).as("total"))
          .orderBy("l_returnflag", "metric")
      },
      Some("""SELECT l_returnflag, metric, round(sum(v), 2) AS total FROM (
             |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS v FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
             |  UNION ALL
             |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
             |GROUP BY l_returnflag, metric ORDER BY l_returnflag, metric""".stripMargin)),

    GQuery(
      "set_intersect_all",
      (s, dir) => {
        // Bag (multiset) semantics: nation keys of two segments with
        // duplicate multiplicity preserved.
        val a = Tables.t(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("k"))
        val b = Tables.t(s, dir, "customer")
          .where(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey").as("k"))
        a.intersectAll(b).orderBy("k")
      },
      Some("""SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |INTERSECT ALL
             |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |ORDER BY k""".stripMargin)),

    GQuery(
      "set_except_all",
      (s, dir) => {
        val a = Tables.t(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("k"))
        val b = Tables.t(s, dir, "customer")
          .where(col("c_mktsegment") === "AUTOMOBILE").select(col("c_nationkey").as("k"))
        a.exceptAll(b).orderBy("k")
      },
      Some("""SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             |EXCEPT ALL
             |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |ORDER BY k""".stripMargin)),

    GQuery(
      "map_funcs",
      (s, dir) => {
        // Map construction + lookup: per order, a linenumber→quantity map
        // built from collected entries, then probed. (The map never
        // leaves the executor — output is scalar lookups, which is also
        // what keeps this oracle-comparable.)
        Tables.t(s, dir, "lineitem")
          // linenumbers can repeat per order in this data → dedupe to
          // (order, linenumber) → max(qty) before building the map
          .groupBy("l_orderkey", "l_linenumber")
          .agg(max("l_quantity").as("q"))
          .groupBy("l_orderkey")
          .agg(map_from_entries(
            array_sort(collect_list(struct(col("l_linenumber"), col("q")))))
            .as("m"))
          .select(col("l_orderkey"),
            size(col("m")).cast("long").as("n_lines"),
            round(element_at(col("m"), 1), 2).as("qty_line1"),
            round(element_at(col("m"), 7), 2).as("qty_line7"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, count(DISTINCT l_linenumber) AS n_lines,
             |       round(max(CASE WHEN l_linenumber = 1 THEN l_quantity END), 2) AS qty_line1,
             |       round(max(CASE WHEN l_linenumber = 7 THEN l_quantity END), 2) AS qty_line7
             |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    GQuery(
      "text_posexplode",
      (s, dir) => {
        // posexplode: token stream with positions (the lateral-view
        // surface; bounded to the first 50 docs to keep output small).
        Tables.t(s, dir, "documents")
          .where(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("tok"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents WHERE doc_id < 50)
             |SELECT * FROM (
             |  SELECT doc_id,
             |         unnest([{'pos': CAST(i - 1 AS BIGINT), 'tok': tk[i]}
             |                 for i in range(1, len(tk) + 1)], recursive := true)
             |  FROM t)
             |ORDER BY doc_id, pos""".stripMargin)),

    GQuery(
      "scalar_bitwise",
      (s, dir) => {
        // Bitwise scalar surface: and/or/xor/shifts/bit_count — pure
        // codegen projections (bounded to 500 rows for output size).
        Tables.t(s, dir, "orders")
          .where(col("o_orderkey") <= 500)
          .select(col("o_orderkey"),
            col("o_orderkey").bitwiseAND(255L).as("band"),
            col("o_orderkey").bitwiseOR(16L).as("bor"),
            col("o_orderkey").bitwiseXOR(lit(0x5AL)).as("bxor"),
            shiftleft(col("o_orderkey"), 3).as("shl"),
            shiftright(col("o_orderkey"), 2).as("shr"),
            expr("bit_count(o_orderkey)").cast("long").as("nbits"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       o_orderkey & 255 AS band,
             |       o_orderkey | 16 AS bor,
             |       xor(o_orderkey, 90) AS bxor,
             |       o_orderkey << 3 AS shl,
             |       o_orderkey >> 2 AS shr,
             |       CAST(bit_count(o_orderkey) AS BIGINT) AS nbits
             |FROM orders WHERE o_orderkey <= 500
             |ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "scalar_try",
      (s, dir) => {
        // Error-tolerant scalar surface: try_divide / try_cast return
        // NULL where strict evaluation would throw — the semantics a
        // 100 TB job needs so one bad row can't kill stage retries
        // (same stance as the reference's skip-bad-records parse,
        // HadoopKafkaConsumer.java:58-61).
        // per_digit is FLOOR-scaled, not rounded: round(q, 4) of a
        // repeating-decimal quotient can land on a half-tie whose winner
        // differs between engines' rounding paths (caught by the
        // sf0.001 cross-scale check); floor(q * 100) is a pure IEEE op
        // chain, identical everywhere.
        Tables.t(s, dir, "orders")
          .where(col("o_orderkey") <= 500)
          .select(col("o_orderkey"),
            floor(expr("try_divide(o_totalprice, o_orderkey % 10)") * 100).cast("long").as("per_digit_e2"),
            expr("try_cast(o_orderpriority AS INT)").as("prio_int"),
            expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").cast("long").as("prio_digit"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       CAST(floor(o_totalprice / nullif(o_orderkey % 10, 0) * 100) AS BIGINT) AS per_digit_e2,
             |       TRY_CAST(o_orderpriority AS INT) AS prio_int,
             |       CAST(TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS BIGINT) AS prio_digit
             |FROM orders WHERE o_orderkey <= 500
             |ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "scalar_url",
      (s, dir) => {
        // URL parsing surface (parse_url): host / path / query-param
        // extraction — the canonicalization primitives of web-corpus
        // curation (URL dedup keys, domain mixing). URLs are constructed
        // deterministically from part attributes, then decomposed with
        // Spark's parse_url; the oracle re-derives the same components
        // with regexes, so the check is a genuine differential on the
        // parser, not string round-tripping.
        val u = concat(lit("https://shop.example.com/brand/"),
          regexp_replace(lower(col("p_brand")), "#", "-"),
          lit("/item?id="), col("p_partkey").cast("string"),
          lit("&size="), col("p_size").cast("string"))
        Tables.t(s, dir, "part")
          .select(col("p_partkey"), u.as("url"))
          .select(col("p_partkey"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY', 'size')").as("qsize"))
          .orderBy("p_partkey")
      },
      Some("""WITH u AS (SELECT p_partkey,
             |                  'https://shop.example.com/brand/' ||
             |                  replace(lower(p_brand), '#', '-') ||
             |                  '/item?id=' || p_partkey || '&size=' || p_size AS url
             |           FROM part)
             |SELECT p_partkey,
             |       regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
             |       regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
             |       regexp_extract(url, '[?&]size=([^&#]*)', 1) AS qsize
             |FROM u ORDER BY p_partkey""".stripMargin)),

    GQuery(
      "agg_collect_sorted",
      (s, dir) => {
        // Deterministic set-valued aggregate: collect_set is
        // order-nondeterministic, so the portable form is sort-then-join
        // to a string — the pattern for ANY list-valued column that must
        // hash-compare across engines.
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus")))).as("statuses"),
            countDistinct("l_linestatus").as("n_statuses"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses,
             |       count(DISTINCT l_linestatus) AS n_statuses
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "udtf_pos_grams",
      (s, dir) => {
        // The UDTF surface: custom Catalyst Generator (functions/
        // PosWordGrams) fanning each doc out to (pos, gram) rows inside
        // a Generate node — no intermediate gram array per row, unlike
        // explode(ngrams(...)). Bounded to the first 50 docs like
        // text_posexplode to keep output small.
        Tables.t(s, dir, "documents")
          .where(col("doc_id") < 50)
          .select(col("doc_id"),
            expr("pos_word_grams(text, 3)").as(Seq("pos", "gram")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gram"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |           FROM documents WHERE doc_id < 50)
             |SELECT * FROM (
             |  SELECT doc_id,
             |         unnest([{'pos': CAST(i - 1 AS BIGINT),
             |                  'gram': array_to_string(tk[i:i+2], ' ')}
             |                 for i in range(1, len(tk) - 1)], recursive := true)
             |  FROM t WHERE len(tk) >= 3)
             |ORDER BY doc_id, pos""".stripMargin)),

    GQuery(
      "scalar_nullsafe",
      (s, dir) => {
        // Null-safe equality (<=> / IS NOT DISTINCT FROM) and null
        // propagation through nullif.
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"),
            (nullif(col("o_orderstatus"), lit("O")) <=> lit(null)).as("was_o"),
            (nullif(col("o_orderstatus"), lit("O")) <=> nullif(col("o_orderstatus"), lit("F")))
              .as("neither"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL AS was_o,
             |       nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM nullif(o_orderstatus, 'F')
             |         AS neither
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "agg_grouping_id",
      (s, dir) => {
        Tables.t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            grouping(col("l_returnflag")).cast("long").as("g_rf"),
            grouping(col("l_linestatus")).cast("long").as("g_ls"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    GQuery(
      "join_interval_range",
      (s, dir) => {
        // Interval-overlap join via DAY BUCKETING: each order's 4-day
        // window explodes into its covered days, lineitems map to their
        // ship day, and the range predicate becomes an EQUI-join on the
        // day key — the transformation that turns an O(N·M) range join
        // into a shuffle-hash join at 100 TB (the oracle states the same
        // query as a plain BETWEEN range join). Because the measure is a
        // pure per-day COUNT, the lineitem side pre-aggregates to one
        // row per day BEFORE the join (the day-count table is tiny →
        // broadcast) and the per-order count becomes a sum of day
        // counts — the raw day equi-join materializes |orders|·4·
        // (lineitems/day) rows (~150M at sf0.1, measured 42 s) for the
        // identical answer this form gets from 600k.
        val o = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d0"))
          .select(col("o_orderkey"),
            explode(sequence(col("d0"), date_add(col("d0"), 3))).as("day"))
        val lc = Tables.t(s, dir, "lineitem")
          .select(to_date(col("l_shipdate")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("c"))
        o.join(broadcast(lc), "day")
          .groupBy("o_orderkey")
          .agg(sum(col("c")).as("n_shipped"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, count(*) AS n_shipped
             |FROM orders JOIN lineitem
             |  ON l_shipdate::DATE BETWEEN o_orderdate::DATE AND o_orderdate::DATE + 3
             |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "hist_totalprice",
      (s, dir) => {
        // Fixed-width histogram: one scan, one tiny hash aggregate —
        // the bucket id is a pure projection so the scan stays in one
        // codegen stage. floor(x / w) is an IEEE-deterministic double op,
        // identical across engines (no rounding hazard).
        Tables.t(s, dir, "orders")
          .select(floor(col("o_totalprice") / 50000).cast("long").as("bucket"),
            col("o_totalprice"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"))
          .orderBy("bucket")
      },
      Some("""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
             |       count(*) AS n,
             |       round(min(o_totalprice), 2) AS lo,
             |       round(max(o_totalprice), 2) AS hi
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),

    GQuery(
      "window_nth_value",
      (s, dir) => {
        // Positional window analytics: first / second / last order price
        // per customer under an explicit whole-partition ROWS frame
        // (default frames stop at CURRENT ROW, which makes nth_value
        // order-dependent — the bug this query's explicit frame avoids).
        // One shuffle on custkey; all three functions share the sort.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Long.MinValue, Long.MaxValue)
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            round(first("o_totalprice").over(w), 2).as("first_price"),
            round(nth_value(col("o_totalprice"), 2).over(w), 2).as("second_price"),
            round(last("o_totalprice").over(w), 2).as("last_price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |       round(first_value(o_totalprice) OVER w, 2) AS first_price,
             |       round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price,
             |       round(last_value(o_totalprice) OVER w, 2) AS last_price
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_orderkey""".stripMargin)),

    GQuery(
      "hist_equidepth",
      (s, dir) => {
        // EQUI-DEPTH histogram (decile buckets of equal row count) via
        // ntile over a deterministic total order — the complement of
        // hist_totalprice's fixed-width form. The exact version needs a
        // global sort, fine for a per-group or sampled profile; at
        // 100 TB the boundary computation switches to the mergeable GK
        // sketch (docs_token_quantiles) and this shape then buckets by
        // comparing against the ~10 broadcast boundaries instead.
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("o_totalprice", "o_orderkey")
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .withColumn("bucket", ntile(10).over(w).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (SELECT o_totalprice,
             |                  ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
             |           FROM orders)
             |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n,
             |       round(min(o_totalprice), 2) AS lo,
             |       round(max(o_totalprice), 2) AS hi
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    GQuery(
      "agg_median_mode",
      (s, dir) => {
        // Exact median (interpolating percentile-0.5) and mode in one
        // hash aggregate. Cross-engine determinism by construction:
        // the price median runs over exact integer CENTS, so the
        // even-count midpoint (a+b)/2 is exactly representable and both
        // engines' interpolation formulas agree bit-for-bit (a DOUBLE
        // median's .xx5 midpoint round(2) is a half-tie whose winner
        // differs between engines — the round-2 hazard). Quantities are
        // small integral doubles, exact the same way. Mode ties are both
        // engines' "arbitrary pick", so the mode input is made
        // structurally tie-free: least(qty, 10) folds 10..50 onto 10
        // (an ~82% mass winner at any scale factor).
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            median(round(col("l_extendedprice") * 100).cast("long"))
              .as("med_price_c"),
            median(col("l_quantity")).as("med_qty"),
            mode(least(col("l_quantity"), lit(10.0))).cast("long").as("mode_qcap"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |       median(CAST(round(l_extendedprice * 100) AS BIGINT)) AS med_price_c,
             |       median(l_quantity) AS med_qty,
             |       CAST(mode(least(l_quantity, 10)) AS BIGINT) AS mode_qcap
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GQuery(
      "scalar_variant",
      (s, dir) => {
        // Spark 4 VARIANT surface: parse the JSON props column ONCE into
        // the binary semi-structured encoding, then do typed path
        // extraction — the schema-on-read scale path (shreddable storage,
        // no per-access string re-parse; contrast get_json_object which
        // re-parses per field). A miss path returns NULL, not an error.
        Tables.t(s, dir, "events")
          .select(col("event_id"), parse_json(col("props")).as("v"))
          .select(col("event_id"),
            try_variant_get(col("v"), "$.k", "bigint").as("k"),
            try_variant_get(col("v"), "$.missing", "string").as("missing"))
          .select(col("event_id"), col("k"), col("missing"),
            (col("k") % 10).as("k_bucket"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |       json_extract(props, '$.k')::BIGINT AS k,
             |       json_extract_string(props, '$.missing') AS missing,
             |       json_extract(props, '$.k')::BIGINT % 10 AS k_bucket
             |FROM events ORDER BY event_id""".stripMargin)),

    GQuery(
      "ingest_xml_parse",
      (s, dir) => {
        // Spark 4 native XML: wrap each row in an XML envelope, parse it
        // back with from_xml under an explicit schema (same
        // declared-schema lenient stance as the reference's JSON path,
        // SURVEY §2A #5). The oracle is the identity projection — the
        // check is that the XML round-trip is lossless and typed.
        // Pure per-row projection: codegen'd, no shuffle, map-only at
        // 100 TB.
        import org.apache.spark.sql.types.StructType
        val xml = Tables.t(s, dir, "orders")
          .select(concat(
            lit("<o><k>"), col("o_orderkey"),
            lit("</k><st>"), col("o_orderstatus"),
            lit("</st><pr>"), col("o_orderpriority"), lit("</pr></o>")).as("x"))
        xml.select(from_xml(col("x"),
            StructType.fromDDL("k BIGINT, st STRING, pr STRING")).as("r"))
          .select(col("r.k").as("k"), col("r.st").as("st"), col("r.pr").as("pr"))
          .orderBy("k")
      },
      Some("""SELECT o_orderkey AS k, o_orderstatus AS st, o_orderpriority AS pr
             |FROM orders ORDER BY k""".stripMargin)),

    GQuery(
      "agg_sketch_union",
      (s, dir) => {
        // Mergeable-sketch pattern (the two-level form EVERY 100 TB
        // distinct-count takes), registered as its AGREEMENT query: the
        // sharded-sketch union estimate ([[hllUnionEstimate]]) runs
        // alongside the exact distinct count, and the driver
        // hash-verifies the exact answer plus a <=5% relative-error
        // flag (oracle expects true). Production calls
        // hllUnionEstimate alone; this certifies it per run.
        val li = Tables.t(s, dir, "lineitem")
        hllUnionEstimate(li)
          .crossJoin(broadcast(
            li.agg(countDistinct(col("l_partkey")).as("exact_parts"))))
          .select(col("exact_parts"), col("n_rows"),
            (abs(col("approx_parts") - col("exact_parts")).cast("double") /
              col("exact_parts") <= 0.05).as("union_ok"))
      },
      Some("""SELECT count(DISTINCT l_partkey) AS exact_parts,
             |       count(*) AS n_rows,
             |       true AS union_ok
             |FROM lineitem""".stripMargin))
  )

  /** Sharded HLL sketch + union distinct-count estimate: shards sketch
    * independently (hll_sketch_agg — DataSketches HLL, bounded memory
    * per task), then the tiny per-shard sketches union into one
    * estimate (hll_union_agg). Contrast a global countDistinct, whose
    * exact shuffle moves every distinct key. This is the production
    * call; `agg_sketch_union` registers its agreement harness and
    * Round3Spec gates the error bound directly.
    */
  def hllUnionEstimate(li: DataFrame): DataFrame =
    li.withColumn("shard", pmod(col("l_orderkey"), lit(16)))
      .groupBy("shard")
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"),
        count(lit(1)).as("n"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_parts"),
        sum("n").as("n_rows"))
      .select(col("approx_parts"), col("n_rows"))
}
