package graft

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.{BandedDoc, DupHit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.TTLConfig

/** The transformWithState near-dup form with per-member state TTL —
  * backs SCALE.md's "bound state with a TTL: configuration, not
  * redesign" claim with executed code:
  *
  *  1. with TTL off it must reproduce the fMGWS `nearDupHits` result on
  *     the real documents replay (same operator, modern state API);
  *  2. with a finite TTL, a bucket member older than the horizon stops
  *     matching — its near-partner arriving later is NOT flagged,
  *     while a fresh partner still is.
  */
class NearDupTtlSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** TTL forces TimeMode.ProcessingTime, under which the stateful
    * operator keeps requesting follow-up batches to advance its clock —
    * a long-lived query never reports "no new data", so
    * `processAllAvailable` would block forever, and even AvailableNow
    * keeps scheduling wrap-up batches (measured: >180s without
    * terminating). Each batch therefore runs as its OWN short-lived
    * Trigger.Once query over a shared checkpoint + file sink: exactly
    * one micro-batch per run, deterministic termination, and the
    * restarts double as proof that the TTL'd state survives recovery.
    */
  private def runTws(batches: Seq[Seq[BandedDoc]], name: String,
      ttl: TTLConfig, sleepMs: Long = 0): Seq[DupHit] = StreamingIngest.withRocksDbState(spark) {
    val root = new java.io.File(Scratch.dir(s"ndttl_$name"))
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val ms = MemoryStream[BandedDoc]
    for (b <- batches) {
      ms.addData(b)
      val q = StreamingIngest.nearDupHitsTws(ms.toDS(), minAgree = 0.5, ttl = ttl)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      assert(q.awaitTermination(180000), s"$name: Trigger.Once run must self-terminate")
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[DupHit].schema)
      .parquet(out).as[DupHit].collect().toSeq.sortBy(h => (h.doc_id, h.dup_of))
  }

  test("tws near-dup with TTL off == fMGWS form on the documents replay") {
    import graft.operators.DedupOps
    val sig = array((0 until 32).map { i =>
      val (a, b) = DedupOps.minhashCoef(i)
      array_min(transform(col("hs"),
        h => (lit(a) * h + lit(b)) % lit(DedupOps.MinhashP)))
    }: _*)
    val banded = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"),
        transform(col("sh"), x => DedupOps.portableHash(x, 0)).as("hs"))
      .select(col("doc_id"), sig.as("mh"))
      .select(col("doc_id"), col("mh"),
        explode(DedupOps.lshBandKeys(col("mh"), 8, 4)).as("bk"))
      .select(col("bk"), col("doc_id"), col("mh"))
      .as[BandedDoc].collect().toSeq

    val ms = MemoryStream[BandedDoc]
    spark.catalog.dropTempView("nd_fmgws_ref")
    val q = StreamingIngest.nearDupHits(ms.toDS(), minAgree = 0.5)
      .writeStream.format("memory").queryName("nd_fmgws_ref")
      .outputMode("append").start()
    try { ms.addData(banded); q.processAllAvailable() } finally q.stop()
    val expect = spark.table("nd_fmgws_ref").as[DupHit].collect().toSeq
      .sortBy(h => (h.doc_id, h.dup_of))
    assert(expect.nonEmpty, "fixture should contain near-dup docs")

    // 2 id-monotonic batches through the tws form, TTL off
    val ids = banded.map(_.doc_id).distinct.sorted
    val cut = ids(ids.length / 2)
    val got = runTws(
      Seq(banded.filter(_.doc_id <= cut), banded.filter(_.doc_id > cut)),
      "nd_tws", TTLConfig.NONE)
    assert(got == expect, "transformWithState form must emit the fMGWS hit set")
  }

  test("a bucket member older than the TTL horizon stops matching") {
    val mh = (1L to 32L).toVector
    def doc(id: Long) = BandedDoc("0#k", id, mh) // identical sigs → agree 1.0
    val batches = Seq(Seq(doc(1)), Seq(doc(2)))

    // control: generous TTL → the batch-1 member still matches
    val kept = runTws(batches, "nd_ttl_keep",
      TTLConfig(java.time.Duration.ofHours(1)), sleepMs = 1500)
    assert(kept.map(h => (h.doc_id, h.dup_of)) == Seq((2L, 1L)),
      s"unexpired member must match: $kept")

    // tiny TTL + sleep past it → the batch-1 member has aged out
    val expired = runTws(batches, "nd_ttl_drop",
      TTLConfig(java.time.Duration.ofMillis(200)), sleepMs = 1500)
    assert(expired.isEmpty,
      s"member written ${1500}ms ago with 200ms TTL must not match: $expired")

    // and a FRESH partner in the same batch still matches under the tiny
    // TTL — expiry is per-member age, not a blanket disable
    val sameBatch = runTws(Seq(Seq(doc(1), doc(2))), "nd_ttl_fresh",
      TTLConfig(java.time.Duration.ofMillis(200)))
    assert(sameBatch.map(h => (h.doc_id, h.dup_of)) == Seq((2L, 1L)),
      s"same-batch partner must still match: $sameBatch")
  }
}
