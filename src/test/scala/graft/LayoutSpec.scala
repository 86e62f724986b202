package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Physical-layout gates on Spark's own writers: bucketed tables join
  * with no exchange, partitioned writes prune directories (statically
  * and at runtime), struct reads prune nested fields, and the Morton
  * key behind Z-order clustering interleaves exactly.
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
    ev.write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(dir)
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
    orders.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    cust.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_cust")
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
    ev.write.mode(SaveMode.Overwrite).partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir).where(col("event_type") === "click")
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition filter in scan:\n$scan")
    assert(one.count() == ev.where(col("event_type") === "click").count())
  }

  test("morton16 interleaves bits exactly") {
    import graft.functions.InterleaveBits.morton16
    assert(morton16(0xFFFF, 0) == 0x55555555L)   // a -> even positions
    assert(morton16(0, 0xFFFF) == 0xAAAAAAAAL)   // b -> odd positions
    assert(morton16(0xFFFF, 0xFFFF) == 0xFFFFFFFFL)
    assert(morton16(1, 0) == 1L && morton16(0, 1) == 2L && morton16(1, 1) == 3L)
    assert(morton16(0x1FFFF, 0) == 0x55555555L)  // masked to 16 bits
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
