package graft.streaming

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** StreamHarness' query lifecycle: withStreamConf runs the body at one
  * state partition per scheduler slot (capped at 8), on the RocksDB
  * store when asked, and puts every key back afterwards whether the body
  * returns or throws; runToMemory never leaves its query running.
  */
class StreamShufflePartitionsSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hdfs =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private def statePartitions = math.min(8, spark.sparkContext.defaultParallelism).toString

  /** Run `check` with the session's setting at a value the helper never
    * derives, so a missing restore cannot pass by coincidence. */
  private def withSessionValue(v: String)(check: => Unit): Unit = {
    val original = spark.conf.get(key)
    spark.conf.set(key, v)
    try check finally spark.conf.set(key, original)
  }

  /** Run `check` with the provider key explicitly set to `v`, or unset. */
  private def withProvider(v: Option[String])(check: => Unit): Unit = {
    val original = spark.conf.getAll.get(providerKey)
    v.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    try check finally original.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
  }

  private def providerSet: Option[String] = spark.conf.getAll.get(providerKey)

  test("body runs at min(8, defaultParallelism); the session value is back after return") {
    withSessionValue("13") {
      val inside = StreamHarness.withStreamConf(spark)(spark.conf.get(key))
      assert(inside === statePartitions)
      assert(spark.conf.get(key) === "13")
    }
  }

  test("the session value is back after the body throws") {
    withSessionValue("13") {
      val e = intercept[IllegalStateException] {
        StreamHarness.withStreamConf(spark) {
          assert(spark.conf.get(key) === statePartitions)
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(spark.conf.get(key) === "13")
    }
  }

  test("rocksDb = true runs the body on RocksDB; the previous provider is back after return and throw") {
    withProvider(Some(hdfs)) {
      val inside = StreamHarness.withStreamConf(spark, rocksDb = true)(spark.conf.get(providerKey))
      assert(inside === rocksDb)
      assert(providerSet === Some(hdfs))
      intercept[IllegalStateException] {
        StreamHarness.withStreamConf(spark, rocksDb = true) {
          assert(spark.conf.get(providerKey) === rocksDb)
          throw new IllegalStateException("body failed")
        }
      }
      assert(providerSet === Some(hdfs))
    }
  }

  test("an unset provider is unset again afterwards, not set to the default class") {
    withProvider(None) {
      StreamHarness.withStreamConf(spark, rocksDb = true) {
        assert(providerSet === Some(rocksDb))
      }
      assert(providerSet === None)
      intercept[IllegalStateException] {
        StreamHarness.withStreamConf(spark, rocksDb = true) {
          throw new IllegalStateException("body failed")
        }
      }
      assert(providerSet === None)
      // without rocksDb the provider is never touched
      StreamHarness.withStreamConf(spark)(assert(providerSet === None))
    }
  }

  test("runToMemory stops its query when the hook throws; the name is free again") {
    val dir = TempDirs.create("graft_run_to_memory_").toString
    spark.range(3).write.mode("overwrite").parquet(dir)
    def source = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    val e = intercept[IllegalStateException] {
      StreamHarness.runToMemory(source, OutputMode.Append) { q =>
        assert(q.isActive)
        throw new IllegalStateException("hook failed")
      }
    }
    assert(e.getMessage === "hook failed")
    assert(spark.streams.active.isEmpty)
    val first = StreamHarness.runToMemory(source, OutputMode.Append)()
    val second = StreamHarness.runToMemory(source, OutputMode.Append)()
    assert(spark.streams.active.isEmpty)
    // no memory-sink view survives either call, and a returned frame
    // still collects once its view is gone
    assert(tables === before)
    Seq(first, second).foreach { rows =>
      assert(rows.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    }
  }
}
