package graft

import graft.streaming.GenFold
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The generalized generation fold (GenFold — extracted from the
  * kafkalog snapshot fold): a maintained aggregate table equals the
  * from-scratch aggregate regardless of batch cuts, resumes from its
  * checkpoint without re-folding, and survives a torn generation.
  */
class GenFoldSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val aggSchema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType),
    StructField("s", LongType)))

  private def merge(prev: DataFrame, batch: DataFrame): DataFrame = {
    val delta = batch.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    prev.unionByName(delta).groupBy("k")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  private def state(out: String): Map[String, (Long, Long)] =
    GenFold.read(spark, out, aggSchema)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("folded aggregate equals the from-scratch aggregate across batch cuts") {
    val dir = Scratch.dir("genfold")
    val ms = MemoryStream[(String, Long)]
    val src = ms.toDF().toDF("k", "v")
    ms.addData(("a", 1L), ("b", 2L))
    ms.addData(("a", 3L))
    ms.addData(("c", 5L), ("a", 7L), ("b", 1L))
    GenFold.fold(src, s"$dir/state", s"$dir/ck", aggSchema)(merge)
    assert(state(s"$dir/state") ==
      Map("a" -> (3L, 11L), "b" -> (2L, 3L), "c" -> (1L, 5L)))
  }

  test("a resumed fold continues from its checkpoint without re-folding history") {
    val dir = Scratch.dir("genfold_resume")
    val ms = MemoryStream[(String, Long)]
    ms.addData(("a", 1L))
    GenFold.fold(ms.toDF().toDF("k", "v"), s"$dir/state", s"$dir/ck", aggSchema)(merge)
    assert(state(s"$dir/state") == Map("a" -> (1L, 1L)))
    // same checkpoint, more data: only the new batch folds — if history
    // re-folded, counts would double
    ms.addData(("a", 1L), ("b", 4L))
    GenFold.fold(ms.toDF().toDF("k", "v"), s"$dir/state", s"$dir/ck", aggSchema)(merge)
    assert(state(s"$dir/state") == Map("a" -> (2L, 2L), "b" -> (1L, 4L)))
  }

  test("a torn (uncommitted) generation is invisible; recovery re-folds only that batch") {
    val dir = Scratch.dir("genfold_torn")
    val ms = MemoryStream[(String, Long)]
    ms.addData(("a", 1L))
    GenFold.fold(ms.toDF().toDF("k", "v"), s"$dir/state", s"$dir/ck", aggSchema)(merge)
    // simulate a crash mid-write of the NEXT generation: gen dir without
    // a _SUCCESS marker must be skipped by readers
    val f = graft.sources.kafkalog.KafkaLog.fs(dir)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/state/gen-99"))
    assert(GenFold.committedGens(s"$dir/state") == Seq(0L))
    assert(state(s"$dir/state") == Map("a" -> (1L, 1L)))
  }
}
