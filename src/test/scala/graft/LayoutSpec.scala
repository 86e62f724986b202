package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Physical-layout gates: bucketed tables join with no exchange,
  * partitioned writes prune directories, clustered writes prune row
  * groups via min/max stats.
  */
class LayoutSpec extends SparkSpec {

  test("dynamic partition pruning injects a runtime filter on the partitioned scan") {
    // DPP: joining a partitioned fact on its partition column with a
    // FILTERED broadcastable dim must plan a dynamicpruning subquery in
    // the scan's PartitionFilters — at 100 TB this skips whole
    // directories based on the dim filter's runtime result, the
    // partition-level analog of the runtime bloom filter.
    import spark.implicits._
    val dir = Scratch.dir("dpp")
    val ev = Tables.t(spark, sf, "events")
      .select("event_id", "event_type", "value")
    Layout.writePartitioned(ev, dir, Seq("event_type"))
    val fact = spark.read.parquet(dir)
    // the dim must be a SCANNED relation with a live Filter — a
    // LocalRelation constant-folds the predicate away and DPP's
    // "selective predicate on the build side" precondition fails
    val dimDir = Scratch.dir("dpp_dim")
    Seq(("purchase", 1), ("click", 2)).toDF("et", "grp")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("grp") === 1)
    val joined = fact.join(dim, col("event_type") === col("et"))
      .groupBy("event_type").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruning in PartitionFilters:\n$plan")
    // and the result is correct: only the surviving partition's rows
    val expect = ev.where(col("event_type") === "purchase").count()
    val got = joined.collect()
    assert(got.length == 1 && got.head.getLong(1) == expect)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val orders = Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.t(spark, sf, "customer").select("c_custkey", "c_name")
    Layout.writeBucketed(orders, "b_orders", 8, Seq("o_custkey"))
    Layout.writeBucketed(cust, "b_cust", 8, Seq("c_custkey"))
    try {
      val joined = withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val j = spark.table("b_orders")
          .join(spark.table("b_cust"),
            col("o_custkey") === col("c_custkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$plan")
        j.count()
      }
      // and the answer is right
      val expected = Tables.t(spark, sf, "orders")
        .join(Tables.t(spark, sf, "customer"),
          col("o_custkey") === col("c_custkey")).count()
      assert(joined == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_cust")
    }
  }

  test("partitioned write prunes directories at file-listing time") {
    val dir = Scratch.dir("layout_part")
    val ev = Tables.t(spark, sf, "events").select("event_id", "user_id", "event_type")
    Layout.writePartitioned(ev, dir, Seq("event_type"))
    val one = spark.read.parquet(dir).where(col("event_type") === "click")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition filter in scan:\n$scan")
    assert(one.count() == ev.where(col("event_type") === "click").count())
  }

  test("dynamic partition overwrite backfills ONE partition, leaving the rest intact") {
    val dir = Scratch.dir("layout_dpo")
    val ev = Tables.t(spark, sf, "events").select("event_id", "user_id", "event_type")
    Layout.writePartitioned(ev, dir, Seq("event_type"))
    val before = spark.read.parquet(dir)
    val untouchedBefore = before.where(col("event_type") =!= "click")
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    // backfill: re-derive ONLY the click partition with corrected rows
    val fixed = ev.where(col("event_type") === "click")
      .withColumn("user_id", col("user_id") + 1000000L)
    Layout.overwritePartitions(fixed, dir, Seq("event_type"))
    val after = spark.read.parquet(dir)
    // target partition: replaced (not appended), carrying the fix
    val clicks = after.where(col("event_type") === "click")
    assert(clicks.count() == fixed.count(), "backfilled partition must be replaced, not appended")
    assert(clicks.where(col("user_id") < 1000000L).count() == 0,
      "old rows must be gone from the backfilled partition")
    // every other partition: byte-for-byte the same row set
    val untouchedAfter = after.where(col("event_type") =!= "click")
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(untouchedAfter == untouchedBefore,
      "dynamic overwrite must not touch sibling partitions")
    // and the conf flip is restored after the write
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .toLowerCase != "dynamic", "conf flip must be scoped to the write")
  }

  test("deleteWhere rewrites only the files holding target rows; others untouched on disk") {
    val dir = Scratch.dir("layout_del") + "/t"
    val ev = Tables.t(spark, sf, "events").select("event_id", "user_id", "event_type")
    // range layout on user_id → each file covers a user range, so one
    // user's rows live in exactly one file (the pruning showcase)
    ev.repartitionByRange(8, col("user_id"))
      .write.parquet(dir)
    val victim = ev.select(min("user_id")).collect()(0).getLong(0)
    val expectDeleted = ev.where(col("user_id") === victim).count()
    assert(expectDeleted > 0)
    val mtimes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val (rewritten, total, deleted) =
      Layout.deleteWhere(spark, dir, col("user_id") === victim)
    assert(total == 8 && rewritten == 1,
      s"range layout must confine the victim to 1 of 8 files, got $rewritten/$total")
    assert(deleted == expectDeleted)
    val after = spark.read.parquet(dir)
    assert(after.where(col("user_id") === victim).count() == 0, "target rows must be gone")
    assert(after.count() == ev.count() - expectDeleted, "non-target rows must survive")
    // the 7 clean files are the SAME bytes on disk, not rewrites
    val untouched = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && mtimes.contains(f.getName))
    assert(untouched.length == 7)
    untouched.foreach(f => assert(f.lastModified() == mtimes(f.getName),
      s"${f.getName} was rewritten but holds no target rows"))
  }

  test("file index routes a point lookup to only the files holding the key") {
    val dir = Scratch.dir("layout_idx") + "/t"
    val ev = Tables.t(spark, sf, "events").select("event_id", "user_id", "event_type")
    // hash-distribute on event_id so user_id values SPAN files: min/max
    // row-group stats cannot prune this lookup — the index is the only
    // thing that can
    ev.repartition(8, col("event_id")).write.parquet(dir)
    Layout.buildFileIndex(spark, dir, "user_id")
    val someUser = ev.select(min("user_id")).collect()(0).getLong(0)
    val got = Layout.lookupViaIndex(spark, dir, "user_id", someUser)
    val expect = ev.where(col("user_id") === someUser)
    assert(got.count() == expect.count() && got.count() > 0)
    assert(got.agg(sum("event_id")).collect()(0).getLong(0) ==
      expect.agg(sum("event_id")).collect()(0).getLong(0))
    // the lookup's scan lists EXACTLY the indexed files for this key —
    // the plan's file index says how many paths the scan can ever open
    val idxFiles = spark.read.parquet(s"$dir.idx_user_id")
      .where(col("k") === someUser).select("f").distinct().count()
    val scanned = got.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString
    assert(scanned.contains(s"InMemoryFileIndex($idxFiles paths)"),
      s"scan must open the $idxFiles indexed files only, got:\n$scanned")
    // absent key: zero rows without touching data files
    assert(Layout.lookupViaIndex(spark, dir, "user_id", -1L).count() == 0)
  }

  test("deleteWhere with no matches is a no-op; null predicate rows survive") {
    val dir = Scratch.dir("layout_del0") + "/t"
    import spark.implicits._
    Seq((1L, Some("a")), (2L, None), (3L, Some("x"))).toDF("id", "tag")
      .coalesce(1).write.parquet(dir)
    val (r0, t0, d0) = Layout.deleteWhere(spark, dir, col("tag") === "zzz")
    assert((r0, d0) == ((0, 0L)) && t0 >= 1)
    // DELETE WHERE tag = 'x': the null-tag row must SURVIVE (predicate
    // evaluates null, not true — SQL delete semantics)
    val (_, _, d1) = Layout.deleteWhere(spark, dir, col("tag") === "x")
    assert(d1 == 1L)
    val left = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(1L, 2L))
  }

  test("clustered write carries sorted row groups (min/max prune-able)") {
    val dir = Scratch.dir("layout_clust")
    val ord = Tables.t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    Layout.writeClustered(ord, dir, Seq("o_orderkey"), files = 4)
    val stats = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"), count(lit(1)).as("n"))
      .collect()
    assert(stats.length == 4)
    assert(stats.map(_.getAs[Long]("n")).sum == ord.count())
  }

  test("morton16 interleaves bits exactly") {
    import graft.functions.InterleaveBits.morton16
    assert(morton16(0xFFFF, 0) == 0x55555555L)   // a -> even positions
    assert(morton16(0, 0xFFFF) == 0xAAAAAAAAL)   // b -> odd positions
    assert(morton16(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
    assert(morton16(1, 0) == 1L && morton16(0, 1) == 2L && morton16(1, 1) == 3L)
    assert(morton16(0x1FFFF, 0) == 0x55555555L)  // masked to 16 bits
  }

  test("z-order clustering prunes on the SECOND dimension; linear sort cannot") {
    import spark.implicits._
    val ord = Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val zDir = Scratch.dir("layout_z")
    val linDir = Scratch.dir("layout_lin")
    Layout.writeZOrdered(ord, zDir, "o_custkey", "o_totalprice", files = 8)
    Layout.writeClustered(ord, linDir, Seq("o_custkey"), files = 8)
    // nothing lost in the rewrite
    assert(spark.read.parquet(zDir).except(ord).isEmpty &&
      ord.except(spark.read.parquet(zDir)).isEmpty)
    // per-file [min, max] of the SECOND dimension
    def spans(dir: String): Array[(Double, Double)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .select("lo", "hi").as[(Double, Double)].collect()
    val (loQ, hiQ) = {
      val s = ord.stat.approxQuantile("o_totalprice", Array(0.45, 0.55), 0.0)
      (s(0), s(1))
    }
    def overlapping(ss: Array[(Double, Double)]) =
      ss.count { case (lo, hi) => hi >= loQ && lo <= hiQ }
    val zHit = overlapping(spans(zDir))
    val linHit = overlapping(spans(linDir))
    // custkey-sorted files each span ~the full price range -> no pruning;
    // z-ordered files are locally dense in price too
    assert(linHit == 8, s"expected linear layout to overlap all files, got $linHit")
    assert(zHit < 8, s"z-order layout must allow skipping some files, got $zHit/8")
  }

  test("compact merges a many-small-file directory, preserving rows exactly") {
    val dir = Scratch.dir("compact") + "/t"
    val src = Tables.t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    src.repartition(32).write.parquet(dir) // simulate a chatty sink
    val expected = src.orderBy("o_orderkey").collect().toSeq
    val (before, after) = Layout.compact(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(before == 32 && after < before && after >= 1,
      s"expected fewer files, got $before -> $after")
    val back = spark.read.parquet(dir).orderBy("o_orderkey").collect().toSeq
    assert(back == expected, "compaction must preserve rows exactly")
  }

  test("nested-schema pruning: reading one struct field prunes the rest from the scan") {
    val dir = Scratch.dir("nested_prune")
    Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("cust"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("total")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).select(col("o_orderkey"), col("meta.cust"))
    val scan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(scan).getOrElse("")
    assert(readSchema.contains("cust"), s"pruned field missing: $readSchema")
    assert(!readSchema.contains("prio") && !readSchema.contains("total"),
      s"unused struct fields must be pruned from the parquet scan: $readSchema")
    assert(q.count() == Tables.t(spark, sf, "orders").count())
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
