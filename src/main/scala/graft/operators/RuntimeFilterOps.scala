package graft.operators

import graft.{GQuery, GraftSession, Scratch, Tables}
import org.apache.spark.sql.functions._

/** Runtime data-skipping at PLAN level — the three mechanisms that decide
  * whether a 100 TB fact scan reads the whole table or only what the
  * query can possibly touch:
  *
  *  - **dynamic partition pruning** (`join_dpp_prune`): the fact table is
  *    laid out partitioned-by-year; the year predicate arrives only
  *    THROUGH a join to a filtered dimension, so static pruning can't
  *    see it. DPP re-uses the dimension's broadcast to inject the
  *    surviving keys into the fact scan's partition filters — the scan
  *    opens 2 of 7 year directories instead of all of them. At 100 TB
  *    (date-partitioned facts, star-schema dashboards) this is THE
  *    difference between a full scan and a slice.
  *  - **runtime bloom-filter join pushdown** (`join_runtime_bloom`): for
  *    a shuffle join whose build side is selectively filtered, the
  *    optimizer plants a bloom filter built from the build-side keys as
  *    a semi-join reduction on the probe side — probe rows that cannot
  *    match are dropped BEFORE the probe shuffle, which is where a
  *    shuffle join's cost lives at scale.
  *  - **bucketed co-located join** (`join_bucketed_noshuffle`): both
  *    sides are written bucketed on the join key (one file per bucket,
  *    via a pre-repartition on the same key images bucketing hashes
  *    with), so the sort-merge join consumes bucket-aligned splits
  *    directly — ZERO exchanges before the join. The recurring-pipeline
  *    contract: pay the key shuffle once at layout time, never again per
  *    query.
  *
  * Each query derives a plan flag from its OWN pinned plan (the same
  * discipline as [[IncrOps]]'s `used_mv`) and the oracle asserts `true`,
  * so a mechanism that silently stops firing fails the differential —
  * not just a benchmark.
  *
  * Conf scoping: every query builds its frame inside
  * [[graft.GraftSession.pinned]], which sets the query's confs, forces
  * the frame's executed plan while they hold, and restores them, the
  * same scope the MV differentials use for their optimizer rule.
  */
object RuntimeFilterOps {

  val all: Seq[GQuery] = Seq(

    GQuery(
      "join_dpp_prune",
      (s, dir) => {
        // Fact = orders re-laid-out partitioned by order year (7 year
        // directories); dim = a tiny on-disk (year, pick) relation whose
        // filter is the ONLY source of the year predicate. The join
        // plans a broadcast of the filtered dim, and DPP injects its
        // year set into the fact scan's partition filters — `used_dpp`
        // reads the pinned physical plan for the injected
        // dynamicpruning expression, and the oracle asserts it fired.
        // Result audited per year so a scan that read a pruned (or
        // dropped a kept) partition fails the hash. Two traps the plan
        // had to dodge, kept as regression guards: the dim must live on
        // disk (a filter over a LocalRelation constant-folds away and
        // with it the "selective predicate" DPP requires), and the join
        // key must match the INFERRED partition-column type (int — a
        // string dim makes the key `cast(year)`, which defeats
        // pruning-key extraction).
        val r = Scratch.dir("orders_by_year")
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            year(col("o_orderdate")).as("year"))
          .write.mode("overwrite").partitionBy("year").parquet(r)
        val fact = s.read.parquet(r)
        import s.implicits._
        val rd = Scratch.dir("year_dim")
        Seq((1996, 1), (1997, 0), (1998, 1), (1999, 0))
          .toDF("year", "pick").write.mode("overwrite").parquet(rd)
        val dim = s.read.parquet(rd)
        val q = fact
          .join(broadcast(dim.where(col("pick") === 1).select("year")),
            Seq("year"))
          .groupBy("year")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        val usedDpp = q.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning")
        GraftSession.pinned(s)(q.select(col("year").cast("long").as("year"), col("n"),
            col("cents"))
          .withColumn("used_dpp", lit(usedDpp)).orderBy("year"))
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS used_dpp
             |FROM orders
             |WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1998)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "join_runtime_bloom",
      (s, dir) => {
        // Shuffle join lineitem ⋈ part with a selective build-side
        // filter (p_size = 1 keeps ~2% of parts). Broadcast is disabled
        // in scope so the join is the shuffle shape the optimization
        // exists for, and the bloom thresholds are opened so the
        // sf-sized fixture qualifies as "large probe side". The
        // optimizer then guards the lineitem side with
        // might_contain(<bloom of surviving p_partkey>) BEFORE the
        // probe shuffle. `used_bloom` reads the pinned plan for the
        // injected filter; correctness of the reduction is the hash
        // (a bloom that dropped a true match would lose rows).
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_quantity"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val pt = Tables.t(s, dir, "part")
          .where(col("p_size") === 1)
          .select(col("p_partkey"), col("p_brand"))
        GraftSession.pinned(s, Map(
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
          val q = li.join(pt, col("l_partkey") === col("p_partkey"))
            .groupBy("p_brand")
            .agg(count(lit(1)).as("n"),
              sum("cents").as("cents"),
              round(avg("l_quantity"), 4).as("avg_qty"))
          val usedBloom = q.queryExecution.optimizedPlan.toString
            .contains("might_contain")
          q.withColumn("used_bloom", lit(usedBloom)).orderBy("p_brand")
        }
      },
      Some("""SELECT p_brand,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       true AS used_bloom
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size = 1
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    GQuery(
      "join_bucketed_noshuffle",
      (s, dir) => {
        // Both sides land bucketed 8-ways on the join key. The
        // pre-write repartition(8, key) uses the same murmur3 key
        // images bucketing does, so each task holds exactly one
        // bucket's rows → one file per bucket → the read satisfies the
        // join's distribution AND ordering from the layout alone. With
        // broadcast off and AQE off in scope (so the pinned plan is the
        // static SMJ), `exchanges_before_join` counts shuffle exchanges
        // under the join — the oracle asserts 0. The one remaining
        // exchange in the whole plan is the final per-segment combine,
        // which is the irreducible aggregate shuffle, not join cost.
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
        val base = new java.io.File(dir).getName.replace('.', '_')
        val to = s"graft_bkt_orders_$base"
        val tc = s"graft_bkt_customer_$base"
        val ro = Scratch.dir("bkt_orders")
        val rc = Scratch.dir("bkt_customer")
        s.sql(s"DROP TABLE IF EXISTS $to")
        s.sql(s"DROP TABLE IF EXISTS $tc")
        Tables.t(s, dir, "orders")
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartition(8, col("o_custkey"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", ro).saveAsTable(to)
        Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .repartition(8, col("c_custkey"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", rc).saveAsTable(tc)
        GraftSession.pinned(s, Map(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false")) {
          val q = s.table(to)
            .join(s.table(tc), col("o_custkey") === col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
          val joinShuffles = q.queryExecution.executedPlan.collect {
            case j: SortMergeJoinExec    => j
            case j: ShuffledHashJoinExec => j
          }.headOption.map(_.collect { case e: ShuffleExchangeExec => e }.size)
          val out = q
            .withColumn("exchanges_before_join",
              lit(joinShuffles.getOrElse(-1).toLong))
            .orderBy("c_mktsegment")
          out
        }
      },
      Some("""SELECT c_mktsegment,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       CAST(0 AS BIGINT) AS exchanges_before_join
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "scan_agg_pushdown",
      (s, dir) => {
        // PARQUET AGGREGATE PUSHDOWN: COUNT/MIN/MAX answered from
        // parquet FOOTER STATISTICS — zero data pages read. Needs the
        // DSv2 parquet path (v1 scans can't push aggregates), scoped via
        // useV1SourceList; `used_footer` reads the pinned plan for the
        // PushedAggregation marker and the oracle asserts it. At 100 TB
        // this is the difference between a metadata-only operation and
        // a full-table scan for every "how many rows / what's the id
        // range" operational query.
        GraftSession.pinned(s, Map(
          "spark.sql.parquet.aggregatePushdown" -> "true",
          "spark.sql.sources.useV1SourceList" -> "")) {
          val q = s.read.parquet(s"$dir/orders.parquet")
            .agg(count(lit(1)).as("n_rows"),
              min("o_orderkey").as("min_key"),
              max("o_orderkey").as("max_key"))
          val pushed = q.queryExecution.executedPlan.toString
            .contains("PushedAggregation: [COUNT(*)")
          q.withColumn("used_footer", lit(pushed))
        }
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |       min(o_orderkey) AS min_key,
             |       max(o_orderkey) AS max_key,
             |       true AS used_footer
             |FROM orders""".stripMargin)),

    GQuery(
      "scan_orc_pushdown",
      (s, dir) => {
        // ORC ROUND-TRIP with predicate pushdown — the second columnar
        // on-disk format next to parquet (warehouses routinely hold
        // both; an engine that can only scan one can't be dropped in).
        // Orders round-trip through ORC, then a selective read must
        // push BOTH predicates into the ORC reader (searchArguments →
        // row-group skipping via ORC's min/max indexes, the same scan
        // economics as parquet row-groups at 100 TB). `pushed_orc`
        // reads the pinned plan's PushedFilters for the equality AND
        // the range predicate; the hash certifies the round-trip lost
        // no rows and the pushdown dropped none it shouldn't.
        val r = Scratch.dir("orders_orc")
        Tables.t(s, dir, "orders").select(
            col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority"))
          .write.mode("overwrite").orc(r)
        val q = s.read.orc(r)
          .where(col("status") === "F" && col("cents") >= 10000000L)
          .groupBy("priority")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        val plan = q.queryExecution.executedPlan.toString
        val pushed = plan.contains("EqualTo(status,F)") &&
          plan.contains("GreaterThanOrEqual(cents,10000000)")
        GraftSession.pinned(s)(q.withColumn("pushed_orc", lit(pushed)).orderBy("priority"))
      },
      Some("""SELECT o_orderpriority AS priority,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS pushed_orc
             |FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND CAST(round(o_totalprice * 100) AS BIGINT) >= 10000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "scan_csv_roundtrip",
      (s, dir) => {
        // CSV ROUND-TRIP with QUOTING STRESS — the interchange format
        // every pipeline still meets at its edges. The payload embeds
        // the two characters that break naive CSV (the delimiter and
        // the quote char) inside a value, so the writer must quote+
        // escape and the reader must undo it EXACTLY: a quoting bug
        // shifts rows/columns and fails the hash, not just a count.
        // Schema is explicit on read (never inferred — inference is a
        // second pass over 100 TB and type-drifts on edge values).
        val r = Scratch.dir("orders_csv")
        Tables.t(s, dir, "orders").select(
            col("o_orderkey").as("k"),
            round(col("o_totalprice") * 100).cast("long").as("cents"),
            concat(col("o_orderpriority"), lit(",\"q\"")).as("tricky"))
          .write.mode("overwrite").option("header", "true").csv(r)
        val schema = "k LONG, cents LONG, tricky STRING"
        s.read.schema(schema).option("header", "true").csv(r)
          .groupBy("tricky")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
            min("k").as("min_k"))
          .orderBy("tricky")
      },
      Some("""SELECT o_orderpriority || ',"q"' AS tricky,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       min(o_orderkey) AS min_k
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "window_topk_group_limit",
      (s, dir) => {
        // WINDOW GROUP LIMIT pushdown (Spark's InferWindowGroupLimit):
        // a rank-filter under a window normally sorts EVERY group's
        // rows before the rn<=k predicate drops them; the optimizer
        // instead plants a WindowGroupLimit below the shuffle that
        // keeps only each partition's top-k candidates — at 100 TB the
        // difference between sorting the table and sorting k rows per
        // group per mapper. `group_limited` asserts the physical
        // WindowGroupLimit operator in the pinned plan (partial AND
        // final — the partial one is the map-side win), so a planner
        // regression fails the oracle, not a benchmark.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        val q = Tables.t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .where(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        val plan = q.queryExecution.executedPlan.toString
        val limited = plan.contains("WindowGroupLimit")
        GraftSession.pinned(s)(q.withColumn("group_limited", lit(limited))
          .orderBy("o_custkey", "rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, rn, true AS group_limited FROM (
             |  SELECT o_custkey, o_orderkey,
             |         row_number() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 2
             |ORDER BY o_custkey, rn""".stripMargin)),

    GQuery(
      "join_aqe_broadcast_switch",
      (s, dir) => {
        // AQE JOIN-STRATEGY SWITCH: the static planner sees an
        // unfilterable-looking build side (stats unknown after a
        // selective filter) and plans a sort-merge join; at runtime the
        // materialized build stage turns out tiny, and AQE REPLANS the
        // join as a broadcast — the probe side's shuffle is cancelled
        // (local read), which at 100 TB is the difference between
        // shuffling the fact table and shipping a few megabytes. The
        // static broadcast threshold is forced to -1 so ONLY the
        // adaptive threshold can trigger the switch; both flags come
        // from the plans (static = SMJ, final = BHJ after execution),
        // so a silently-dead runtime replan fails the oracle.
        GraftSession.scoped(s, Map(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")) {
          val li = Tables.t(s, dir, "lineitem")
            .select(col("l_partkey"), round(col("l_extendedprice") * 100)
              .cast("long").as("cents"))
          val pt = Tables.t(s, dir, "part")
            .where(col("p_size") === 1) // runtime-tiny build side
            .select(col("p_partkey"), col("p_brand"))
          val q = li.join(pt, col("l_partkey") === col("p_partkey"))
            .groupBy("p_brand")
            .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
          val staticSmj = q.queryExecution.executedPlan.toString
            .contains("SortMergeJoin")
          val done = q.localCheckpoint() // executes: AQE finalizes
          val switched = q.queryExecution.executedPlan.toString
            .contains("BroadcastHashJoin")
          done.withColumn("aqe_switched", lit(staticSmj && switched))
            .orderBy("p_brand")
        }
      },
      Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS aqe_switched
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "agg_aqe_coalesce",
      (s, dir) => {
        // AQE PARTITION COALESCING: a 32-partition shuffle whose output
        // is a few KB leaves 32 near-empty reducers — at 1000 executors
        // that's scheduling overhead and tiny-file output for nothing.
        // AQE reads the map output sizes and merges the reducers down
        // to the advisory size; `coalesced` asserts the final plan's
        // AQEShuffleRead actually merged (fewer partitions than the
        // static shuffle), read from the executed adaptive plan. The
        // hash certifies merging changed nothing.
        GraftSession.scoped(s, Map(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
          "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")) {
          val q = Tables.t(s, dir, "orders")
            .groupBy(col("o_orderpriority").as("priority"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          val done = q.localCheckpoint()
          val fin = q.queryExecution.executedPlan.toString
          val coalesced = fin.contains("AQEShuffleRead coalesced")
          done.withColumn("coalesced", lit(coalesced)).orderBy("priority")
        }
      },
      Some("""SELECT o_orderpriority AS priority,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
             |       true AS coalesced
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "join_skew_aqe",
      (s, dir) => {
        // AQE SKEW-JOIN SPLIT, oracle-gated (the runtime half of the
        // skew story; [[Skew.saltedLatestWins]] is the static half for
        // aggregates). The probe side funnels ~95% of lineitem onto one
        // hot key, so one shuffle partition holds most of the data — at
        // 100 TB that task runs for hours while its siblings idle. With
        // broadcast off (the join must be the shuffle shape the
        // optimization exists for) and fixture-sized thresholds, AQE
        // observes the map output sizes and SPLITS the oversized
        // partition across tasks, replicating the matching build rows.
        // The plan flag needs the FINAL adaptive plan, which only exists
        // after execution: the aggregate is materialized via
        // localCheckpoint inside the conf scope, then `used_skew_split`
        // reads the executed plan's skew markers. The oracle asserts the
        // flag AND the hash — a split that dropped or duplicated hot-key
        // rows fails the compare, a silently-disabled split fails the
        // flag.
        GraftSession.scoped(s, Map(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.enabled" -> "true",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")) {
          val probe = Tables.t(s, dir, "lineitem").select(
            when(col("l_orderkey") % 20 === 0, col("l_suppkey"))
              .otherwise(lit(1L)).as("k"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"),
            col("l_partkey"))
          val build = Tables.t(s, dir, "supplier")
            .select(col("s_suppkey").as("k"), col("s_name"))
          // Two split preconditions learned by probing the rule:
          //  1. the split unit is one MAPPER's output for the hot reduce
          //     partition — the fixture's single-file scan yields ONE map
          //     task, which is unsplittable, so the repartition(8) stands
          //     in for the thousands of input splits a 100 TB table has;
          //  2. the aggregate groups on a DIFFERENT key than the join:
          //     AQE refuses to split a join whose output partitioning is
          //     consumed as-is downstream (the split would ADD a
          //     shuffle); grouping by bucket means the agg exchange
          //     exists either way.
          val q = probe.repartition(8).join(build, "k")
            .groupBy(pmod(col("k"), lit(4)).as("bucket"))
            .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
              sum("l_partkey").as("pk"), min("s_name").as("s_name"))
          val done = q.localCheckpoint() // executes: AQE finalizes the plan
          val fin = q.queryExecution.executedPlan.toString
          val split = fin.contains("skew=true") || fin.contains("skewed")
          done.withColumn("used_skew_split", lit(split)).orderBy("bucket")
        }
      },
      Some("""WITH probe AS (SELECT CASE WHEN l_orderkey % 20 = 0 THEN l_suppkey
             |                            ELSE 1 END AS k,
             |                      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |                      l_partkey
             |               FROM lineitem)
             |SELECT k % 4 AS bucket, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(cents) AS BIGINT) AS cents,
             |       CAST(sum(l_partkey) AS BIGINT) AS pk,
             |       min(s_name) AS s_name,
             |       true AS used_skew_split
             |FROM probe JOIN supplier ON k = s_suppkey
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
