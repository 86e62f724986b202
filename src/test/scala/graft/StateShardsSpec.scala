package graft

import graft.streaming.StreamingIngest

/** Guards for [[StreamingIngest.withStateShards]] and
  * [[StreamingIngest.withRocksDbState]]: the streaming differentials rely
  * on them scoping state sharding and the state store provider to the
  * stream and restoring the session conf before their batch reduce runs.
  */
class StateShardsSpec extends SparkSpec {
  private val key = "spark.sql.shuffle.partitions"

  test("withStateShards caps inside the body and restores after") {
    val before = spark.conf.get(key)
    val inside = StreamingIngest.withStateShards(spark, 2) { spark.conf.get(key) }
    assert(inside == "2")
    assert(spark.conf.get(key) == before)
  }

  test("withStateShards never RAISES the partition count and restores on throw") {
    val before = spark.conf.get(key)
    val inside = StreamingIngest.withStateShards(spark, 4096) { spark.conf.get(key) }
    assert(inside == before, "cap must be min(current, n), not an increase")
    intercept[RuntimeException] {
      StreamingIngest.withStateShards(spark, 2) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) == before, "conf must restore even when the body throws")
  }

  private val provider = "spark.sql.streaming.stateStore.providerClass"
  private val rocks =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the provider conf set to `v` (None = unset), then
    * put back whatever the session had.
    */
  private def withProvider[T](v: Option[String])(body: => T): T = {
    val saved = spark.conf.getAll.get(provider)
    v.fold(spark.conf.unset(provider))(spark.conf.set(provider, _))
    try body finally saved.fold(spark.conf.unset(provider))(spark.conf.set(provider, _))
  }

  test("withRocksDbState sets the RocksDB provider inside the body") {
    withProvider(None) {
      assert(StreamingIngest.withRocksDbState(spark) { spark.conf.get(provider) } == rocks)
    }
  }

  test("withRocksDbState restores a previously set provider") {
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    withProvider(Some(hdfs)) {
      StreamingIngest.withRocksDbState(spark) { () }
      assert(spark.conf.getOption(provider).contains(hdfs))
    }
  }

  test("withRocksDbState unsets the provider when it was unset before") {
    withProvider(None) {
      StreamingIngest.withRocksDbState(spark) { () }
      assert(!spark.conf.getAll.contains(provider),
        s"provider must be unset again, found ${spark.conf.getOption(provider)}")
    }
  }

  test("withRocksDbState restores the provider even when the body throws") {
    val custom = "example.CustomStateStoreProvider"
    withProvider(Some(custom)) {
      intercept[RuntimeException] {
        StreamingIngest.withRocksDbState(spark) { throw new RuntimeException("boom") }
      }
      assert(spark.conf.getOption(provider).contains(custom))
    }
  }
}
