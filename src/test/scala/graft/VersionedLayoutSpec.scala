package graft

import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Layout maintenance on the versioned table: bin-pack OPTIMIZE,
  * Z-order re-clustering with multi-column manifest stats, bloom-filter
  * point-lookup skipping, tagged/legacy manifest coexistence, and the
  * append-only incremental read. Every skipping path is checked for the
  * two properties that make it safe at scale: results NEVER change
  * (residual filters / no-false-negative blooms) and skipping actually
  * bites (planned < total) when the layout supports it.
  */
class VersionedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def keyed(from: Int, to: Int) =
    (from to to).map(i => (i.toLong, f"$i%06d", (i * 37 % 1000).toLong))
      .toDF("k", "k6", "payload")

  test("optimizeBinPack: fewer files, identical rows, old version time-travelable") {
    val dir = Scratch.dir("binpack") + "/t"
    (0 until 4).foreach(i =>
      VersionedTable.append(keyed(i * 100 + 1, i * 100 + 100).repartition(5), dir))
    val before = VersionedTable.read(spark, dir).orderBy("k").collect()
    val (v, filesBefore, filesAfter) =
      VersionedTable.optimizeBinPack(spark, dir, targetBytes = 1L << 26)
    assert(v == 5L)
    assert(filesBefore == 20 && filesAfter < filesBefore)
    val after = VersionedTable.read(spark, dir).orderBy("k").collect()
    assert(after.toSeq == before.toSeq)
    // the pre-optimize version still reads exactly as before
    assert(VersionedTable.read(spark, dir, Some(4)).count() == 400)
    assert(VersionedTable.history(dir).last._2 == filesAfter)
  }

  test("optimizeBinPack can re-record stats for the compacted files") {
    val dir = Scratch.dir("binstats") + "/t"
    VersionedTable.append(keyed(1, 300).repartition(12), dir)
    VersionedTable.optimizeBinPack(spark, dir, targetBytes = 1L << 26,
      statsCols = Seq("k6"))
    val (df, planned, total) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("k6", "000010", "000020")))
    assert(df.count() == 11)
    assert(planned <= total)
  }

  test("optimizeZorder: per-file stats on both columns; 2-D box prunes and stays exact") {
    val dir = Scratch.dir("zorder") + "/t"
    // two independent uniform dimensions, hash-scattered at commit time
    val df = (1 to 4000)
      .map { i =>
        val a = i % 64; val b = (i * 31) % 64
        (i.toLong, f"$a%03d", f"$b%03d")
      }
      .toDF("k", "a3", "b3")
    VersionedTable.append(df.repartition(16), dir)
    val (v, files) = VersionedTable.optimizeZorder(spark, dir, "a3", "b3", files = 16)
    assert(v == 2L && files == 16)
    // a quarter-by-quarter box: expect real pruning after z-ordering
    val (pruned, planned, total) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("a3", "000", "015"), ("b3", "000", "015")))
    assert(total == 16 && planned < total)
    val expected = df.where($"a3" <= "015" && $"b3" <= "015").orderBy("k").collect()
    assert(pruned.orderBy("k").collect().toSeq == expected.toSeq)
    // straddling box (crosses file boundaries): residual keeps exactness
    val (strad, _, _) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("a3", "010", "035"), ("b3", "020", "045")))
    val expStrad = df.where($"a3".between("010", "035") && $"b3".between("020", "045"))
      .orderBy("k").collect()
    assert(strad.orderBy("k").collect().toSeq == expStrad.toSeq)
  }

  test("readPrunedMulti is conservative for files lacking the predicate column's stats") {
    val dir = Scratch.dir("mixed") + "/t"
    // legacy single-column stats entries on k6...
    VersionedTable.appendWithStats(keyed(1, 100).repartitionByRange(4, $"k6"), dir, "k6")
    // ...then a tagged commit with stats on payload only
    VersionedTable.appendAnnotated(keyed(101, 200), dir, statsCols = Seq("k6"))
    val (df, planned, total) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("k6", "000050", "000150")))
    assert(df.count() == 101)
    assert(planned < total) // the low legacy files skip; the rest plan
    // a predicate on a column with NO stats anywhere plans everything
    val (all, p2, t2) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("payload", "0", "999999")))
    assert(p2 == t2)
    assert(all.count() == 200)
  }

  test("bloom lookup: no false negatives on any key; absent keys plan ~no files") {
    val dir = Scratch.dir("bloom") + "/t"
    VersionedTable.appendAnnotated(keyed(1, 2000).repartition(8), dir,
      bloomCols = Seq("k"), bloomBits = 1 << 14)
    // every present key must return its exact row (no-false-negative)
    (1 to 2000 by 97).foreach { i =>
      val (df, planned, total) = VersionedTable.readBloomPruned(
        spark, dir, None, "k", Seq(i.toString))
      assert(planned <= total)
      val rows = df.select("k", "payload").collect()
      assert(rows.length == 1 && rows.head.getLong(0) == i.toLong,
        s"key $i: expected exactly its row, got ${rows.length}")
    }
    // a key that was never inserted: only false-positive files plan, zero rows
    val (dfAbs, plannedAbs, totalAbs) = VersionedTable.readBloomPruned(
      spark, dir, None, "k", Seq("999999"))
    assert(plannedAbs < totalAbs)
    assert(dfAbs.count() == 0)
  }

  test("bloom entries coexist with stats entries on the same file") {
    val dir = Scratch.dir("bloomstats") + "/t"
    VersionedTable.appendAnnotated(keyed(1, 500).repartitionByRange(4, $"k6"), dir,
      statsCols = Seq("k6"), bloomCols = Seq("k"), bloomBits = 1 << 13)
    val (r1, p1, t1) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("k6", "000001", "000050")))
    assert(r1.count() == 50 && p1 < t1)
    val (r2, p2, t2) = VersionedTable.readBloomPruned(spark, dir, None, "k", Seq("123"))
    assert(r2.count() == 1 && p2 < t2)
  }

  test("readChanges: exactly the appended delta; empty span; rejects rewritten chains") {
    val dir = Scratch.dir("changes") + "/t"
    VersionedTable.append(keyed(1, 100), dir)
    VersionedTable.append(keyed(101, 150), dir)
    VersionedTable.append(keyed(151, 180), dir)
    val delta = VersionedTable.readChanges(spark, dir, 1, 3)
    assert(delta.agg(min("k"), max("k"), count(lit(1))).as[(Long, Long, Long)].head() ==
      ((101L, 180L, 80L)))
    assert(VersionedTable.readChanges(spark, dir, 2, 2).count() == 0)
    // an optimize rewrites files: the span is no longer append-only
    VersionedTable.optimizeBinPack(spark, dir, targetBytes = 1L << 26)
    val err = intercept[IllegalArgumentException] {
      VersionedTable.readChanges(spark, dir, 3, 4).count()
    }
    assert(err.getMessage.contains("not append-only"))
  }

  test("annotations never plan away a sought row even under adversarial clustering") {
    val dir = Scratch.dir("adv") + "/t"
    // all files share one k6 value range boundary value: stats straddle
    val df = (1 to 400).map(i => (i.toLong, "000100", i.toLong)).toDF("k", "k6", "payload")
    VersionedTable.appendAnnotated(df.repartition(4), dir,
      statsCols = Seq("k6"), bloomCols = Seq("k"), bloomBits = 1 << 13)
    val (r, p, t) = VersionedTable.readPrunedMulti(
      spark, dir, None, Seq(("k6", "000100", "000100")))
    assert(p == t) // every file contains the value: nothing may skip
    assert(r.count() == 400)
  }
}
