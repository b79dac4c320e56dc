package graft.streaming

import graft.SparkSpec

/** EventStreams.withStreamShufflePartitions' contract: the body runs at
  * one state partition per scheduler slot (capped at 8), and the
  * session's own shuffle-partition setting is back afterwards whether
  * the body returns or throws.
  */
class StreamShufflePartitionsSpec extends SparkSpec {

  private val key = "spark.sql.shuffle.partitions"
  private def statePartitions = math.min(8, spark.sparkContext.defaultParallelism).toString

  /** Run `check` with the session's setting at a value the helper never
    * derives, so a missing restore cannot pass by coincidence. */
  private def withSessionValue(v: String)(check: => Unit): Unit = {
    val original = spark.conf.get(key)
    spark.conf.set(key, v)
    try check finally spark.conf.set(key, original)
  }

  test("body runs at min(8, defaultParallelism); the session value is back after return") {
    withSessionValue("13") {
      val inside = EventStreams.withStreamShufflePartitions(spark)(spark.conf.get(key))
      assert(inside === statePartitions)
      assert(spark.conf.get(key) === "13")
    }
  }

  test("the session value is back after the body throws") {
    withSessionValue("13") {
      val e = intercept[IllegalStateException] {
        EventStreams.withStreamShufflePartitions(spark) {
          assert(spark.conf.get(key) === statePartitions)
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(spark.conf.get(key) === "13")
    }
  }
}
