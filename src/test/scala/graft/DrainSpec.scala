package graft

import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.KeyedRecord
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import scala.jdk.CollectionConverters._

/** Guards for [[StreamingIngest.drain]], the one way a stream runs: it scopes
  * the state-shard cap and the state store provider to the stream,
  * restores both after, even when a flush step throws, and is the only
  * src/main code that drains a stream or names a provider.
  */
class DrainSpec extends SparkSpec {
  import spark.implicits._

  private val shards = "spark.sql.shuffle.partitions"
  private val provider = "spark.sql.streaming.stateStore.providerClass"
  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Run `body` with session conf `key` set to `v` (None = unset), then
    * put back whatever the session had.
    */
  private def withSessionConf[T](key: String, v: Option[String])(body: => T): T = {
    val saved = spark.conf.getAll.get(key)
    v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Drain a two-batch latest-wins replay through `upsert` into the noop
    * sink; `probe` runs in the flush step, inside the drain's scopes.
    * Returns the stopped query.
    */
  private def replay(upsert: Dataset[KeyedRecord] => Dataset[KeyedRecord],
      probe: () => Unit = () => ()): StreamingQuery = {
    val ms = MemoryStream[KeyedRecord](spark)
    ms.addData(KeyedRecord(1, "a", 1), KeyedRecord(2, "b", 1))
    StreamingIngest.drain(upsert(ms.toDS()),
      Seq(() => { ms.addData(KeyedRecord(1, "a2", 2)); probe() })) {
      _.format("noop").outputMode("update")
    }
  }

  /** The custom metrics of every state operator the query reported. */
  private def stateMetrics(q: StreamingQuery): Seq[String] = {
    val ops = q.recentProgress.toSeq.flatMap(_.stateOperators)
    assert(ops.nonEmpty, "the stream reported no state operator")
    ops.flatMap(_.customMetrics.keySet.asScala)
  }

  private def onRocksDb(q: StreamingQuery): Boolean =
    stateMetrics(q).exists(_.startsWith("rocksdb"))

  test("drain sets the RocksDB provider inside a transformWithState stream") {
    withSessionConf(provider, None) {
      var inside: Option[String] = None
      val q = replay(StreamingIngest.latestWinsUpdatesTws,
        () => inside = spark.conf.getOption(provider))
      assert(inside.contains(rocks))
      assert(onRocksDb(q), s"no RocksDB metrics in ${stateMetrics(q)}")
    }
  }

  test("drain leaves an unset provider unset after a transformWithState stream") {
    withSessionConf(provider, None) {
      replay(StreamingIngest.latestWinsUpdatesTws)
      assert(!spark.conf.getAll.contains(provider),
        s"provider must be unset again, found ${spark.conf.getOption(provider)}")
    }
  }

  test("drain overrides an HDFS provider for transformWithState and restores it") {
    withSessionConf(provider, Some(hdfs)) {
      val q = replay(StreamingIngest.latestWinsUpdatesTws)
      assert(onRocksDb(q), s"no RocksDB metrics in ${stateMetrics(q)}")
      assert(spark.conf.getOption(provider).contains(hdfs))
    }
  }

  test("drain keeps a flatMapGroupsWithState stream on the session's provider") {
    withSessionConf(provider, None) {
      var inside: Option[String] = Some("probe did not run")
      val q = replay(StreamingIngest.latestWinsUpdates,
        () => inside = spark.conf.getAll.get(provider))
      assert(inside.isEmpty, s"provider set inside the drain: $inside")
      assert(!onRocksDb(q), s"RocksDB metrics in ${stateMetrics(q)}")
    }
  }

  test("drain restores both confs after a throwing flush step") {
    withSessionConf(shards, Some("200")) {
      withSessionConf(provider, Some(hdfs)) {
        intercept[RuntimeException] {
          replay(StreamingIngest.latestWinsUpdatesTws, () => throw new RuntimeException("boom"))
        }
        assert(spark.conf.get(shards) == "200")
        assert(spark.conf.getOption(provider).contains(hdfs))
      }
    }
  }

  test("drain caps state shards at 8 inside the stream and restores after") {
    withSessionConf(shards, Some("200")) {
      var inside = ""
      val q = replay(StreamingIngest.latestWinsUpdates, () => inside = spark.conf.get(shards))
      assert(inside == StreamingIngest.StateShards.toString)
      assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSet == Set(8L))
      assert(spark.conf.get(shards) == "200")
    }
  }

  test("drain never raises the shard count") {
    withSessionConf(shards, Some("2")) {
      var inside = ""
      val q = replay(StreamingIngest.latestWinsUpdates, () => inside = spark.conf.get(shards))
      assert(inside == "2", "cap must be min(current, 8), not an increase")
      assert(q.lastProgress.stateOperators.map(_.numShufflePartitions).toSet == Set(2L))
    }
  }

  test("in src/main only StreamingIngest.scala drains a stream or names the state store provider") {
    val needles = Seq("processAllAvailable", "stateStore.providerClass")
    val main = SourceTree.files.filter(_._1.startsWith("src/main/"))
    val hits = for {
      (p, text) <- main
      if !p.endsWith("/streaming/StreamingIngest.scala")
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(main.size > 50, s"scanned only ${main.size} files")
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
