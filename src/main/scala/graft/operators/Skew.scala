package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew tooling for 100 TB keys that don't distribute (SURVEY.md §7 /
  * build-rule "salting for skew").
  *
  * `latestWins` (and any algebraic aggregate) already survives moderate
  * skew through partial map-side aggregation; what kills a job is a
  * single key whose PARTIAL states can't be reduced on one task — e.g. a
  * latest-wins over a key holding 10% of all rows when upstream map
  * output is wide. Two-stage salting bounds the per-task load: stage 1
  * aggregates on (key, salt) — at most rows/saltBuckets per group —
  * stage 2 merges the saltBuckets partials per key. Correct for any
  * associative+commutative aggregate; latest-wins is one.
  *
  * Broadcast-salted JOINS are left to AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default), which does at
  * runtime what manual join salting does statically.
  */
object Skew {

  /** Salted latest-wins: identical semantics to [[Ingest.latestWins]],
    * two-stage execution. `saltBuckets` bounds any single reduce task's
    * group size to ~|hottest key| / saltBuckets.
    */
  def saltedLatestWins(df: DataFrame, keys: Seq[String], version: Seq[String],
      saltBuckets: Int): DataFrame = {
    require(saltBuckets > 1)
    val payload = df.columns.filterNot(keys.contains)
    val versioned = struct(version.map(col): _*)
    val payloadStruct = struct(payload.toIndexedSeq.map(col): _*)
    // deterministic salt from the version columns: spreads a hot key's
    // rows across buckets without an RNG (replayable, streaming-safe)
    val salt = pmod(xxhash64(versioned), lit(saltBuckets))
    val stage1 = df
      .groupBy((keys.map(col) :+ salt.as("__salt")): _*)
      .agg(max_by(payloadStruct, versioned).as("__latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"__latest.`$c`").as(c)): _*)
    val stage2 = stage1
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), struct(version.map(col): _*)).as("__latest"))
    stage2.select(keys.map(col) ++ payload.map(c => col(s"__latest.`$c`").as(c)): _*)
  }
}
