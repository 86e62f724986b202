package graft

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** transformWithState (Spark 4 StatefulProcessor API) gates: the modern
  * latest-wins upsert must emit the exact update log of the
  * flatMapGroupsWithState form on the same replay — and so must the
  * bootstrapped entry point seeded with an empty snapshot, which runs the
  * same processor with an initial state.
  */
class Round4dStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** The fixed four-batch replay through `upsert`, update log sorted. */
  private def replay(name: String)(
      upsert: Dataset[KeyedRecord] => Dataset[KeyedRecord]): Seq[KeyedRecord] =
    StreamingIngest.withRocksDbState(spark) {
      val ms = MemoryStream[KeyedRecord]
      spark.catalog.dropTempView(name)
      val q = upsert(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        ms.addData(KeyedRecord(1, "a", 10), KeyedRecord(2, "x", 5))
        q.processAllAvailable()
        ms.addData(KeyedRecord(1, "stale", 3)) // older version → no emit
        q.processAllAvailable()
        ms.addData(KeyedRecord(1, "b", 20), KeyedRecord(2, "x2", 6),
          KeyedRecord(3, "new", 1))
        q.processAllAvailable()
        ms.addData(KeyedRecord(3, "tie", 1)) // equal version → no emit
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[KeyedRecord].collect().toSeq
        .sortBy(r => (r.id, r.version))
    }

  test("transformWithState latest-wins emits the same update log as fMGWS") {
    val expect = Seq(
      KeyedRecord(1, "a", 10), KeyedRecord(1, "b", 20),
      KeyedRecord(2, "x", 5), KeyedRecord(2, "x2", 6),
      KeyedRecord(3, "new", 1))
    val empty = spark.emptyDataset[KeyedRecord]
    val logs = Map(
      "fMGWS" -> replay("fmgws_test")(StreamingIngest.latestWinsUpdates),
      "tws" -> replay("tws_test")(StreamingIngest.latestWinsUpdatesTws),
      "resumed(empty)" -> replay("tws_resumed_test")(
        StreamingIngest.latestWinsResumed(_, empty)))
    logs.foreach { case (api, rows) => assert(rows == expect, s"$api update log") }
  }
}
