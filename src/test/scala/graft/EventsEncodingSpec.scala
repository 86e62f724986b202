package graft

import org.apache.spark.sql.functions._

/** Regression guard for testdata drift (round 7 postmortem): the driver
  * has shipped `events.ts` as BOTH parquet INT64 nanos-since-epoch and
  * `timestamp[us]`. `Tables.normalizeEvents` must yield identical
  * `ts`/`ts_ns` values from either encoding — hard-coding one encoding
  * silently killed 69 queries and 43 tests across rounds 6-7.
  */
class EventsEncodingSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeEvents yields identical ts/ts_ns from nanos-long and micros-timestamp encodings") {
    val tmp = Scratch.dir("events-enc")
    val micros = Seq(
      (1L, 1700000000123456L, 10L, "click", 1.5),
      (2L, 1700000000999999L, 11L, "view", 2.5),
      (3L, 1700086400000001L, 10L, "click", 3.5))

    // micros encoding: a real TIMESTAMP_NTZ column (what timestamp[us]
    // parquet reads as under the UTC-pinned session)
    micros.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$tmp/micros/events.parquet")

    // nanos encoding: ts as a raw Long of nanos — the shape the
    // nanosAsLong reader yields for INT64 TIMESTAMP(NANOS) files
    micros.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), (col("us") * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$tmp/nanos/events.parquet")

    Tables.invalidate()
    val a = Tables.t(spark, s"$tmp/micros", "events")
      .select("event_id", "ts", "ts_ns").orderBy("event_id").collect().toSeq
    val b = Tables.t(spark, s"$tmp/nanos", "events")
      .select("event_id", "ts", "ts_ns").orderBy("event_id").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(2)) == micros.map(_._2 * 1000L))
    Tables.invalidate()
  }

  test("real testdata events load resolves and ts_ns div 1000 equals unix_micros(ts)") {
    val ev = Tables.t(spark, sf, "events")
    val bad = ev.where(
      expr("ts_ns div 1000 != unix_micros(cast(ts as timestamp))")).count()
    assert(bad == 0L)
    assert(ev.count() > 0L)
  }
}
