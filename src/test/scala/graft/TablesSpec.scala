package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, TimestampNTZType, TimestampType}

import graft.streaming.{Landing, TempDirs}

/** `Tables` opens every fixture with a schema it inferred once per file
  * fingerprint: a repeated open runs no Spark job, and a table rewritten
  * at the same path is read with its new schema.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { val _ = jobs.incrementAndGet() }
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; GraftTestBus.drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  private val olapMix = Seq("q03_join_agg", "q12_band_join", "q15_semi_join",
    "q21_scalar_subquery", "q23_cube", "q30_tumbling_window", "q118_asof_native",
    "q224_range_join_rule")

  test("after one open, fixture loads and the olap_mix builders run no Spark job") {
    Tables.all.foreach(n => Tables.load(spark, sf001, n))
    assert(jobsDuring(Tables.all.foreach(n => Tables.load(spark, sf001, n))) == 0)
    olapMix.foreach(q => registry.Registry.queries(q)(spark, sf001))
    olapMix.foreach(q => assert(jobsDuring(registry.Registry.queries(q)(spark, sf001)) == 0, q))
  }

  private def events(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("event_id")
      .select(col("event_id"), lit("2024-01-01 00:00:00").cast("timestamp_ntz").as("ts"),
        (col("event_id") % 3).as("user_id"), lit("view").as("event_type"),
        col("event_id").cast("double").as("value"), lit("{}").as("props"))
  }

  test("a single-file fixture rewritten at the same path is read with its new schema and rows") {
    val dir = TempDirs.create("graft_tables_file_")
    Landing.feed(events(Seq(1L, 2L)), dir, "events.parquet")
    assert(Tables.raw(spark, dir.toString, "events").schema("ts").dataType == TimestampNTZType)
    val first = Tables.events(spark, dir.toString)
    assert(first.schema("ts").dataType == TimestampType)
    assert(first.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    Landing.feed(events(Seq(3L, 4L, 5L)).withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("note", lit("new")), dir, "events.parquet")
    assert(Tables.raw(spark, dir.toString, "events").schema("ts").dataType == TimestampType)
    val second = Tables.events(spark, dir.toString)
    assert(second.columns.toSeq == first.columns.toSeq :+ "note")
    assert(second.schema("note").dataType == StringType)
    assert(second.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    assert(second.select("note").distinct().collect().map(_.getString(0)).toSeq == Seq("new"))
  }

  test("a directory fixture overwritten at the same path is read with its new schema and rows") {
    import spark.implicits._
    val dir = TempDirs.create("graft_tables_dir_")
    val path = s"$dir/orders.parquet"
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(path)
    assert(Tables.load(spark, dir.toString, "orders").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    Seq(3L, 4L, 5L).toDF("o_orderkey").withColumn("o_comment", lit("new"))
      .write.mode("overwrite").parquet(path)
    val second = Tables.load(spark, dir.toString, "orders")
    assert(second.columns.toSeq == Seq("o_orderkey", "o_comment"))
    assert(second.select("o_orderkey").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
  }
}
