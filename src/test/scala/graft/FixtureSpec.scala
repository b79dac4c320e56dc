package graft

import org.apache.spark.sql.types._

/** Guards against fixture drift between rounds: if the driver regenerates
  * test data with different schemas, fail HERE with a readable message
  * instead of 60 cryptic oracle mismatches.
  */
class FixtureSpec extends SparkSpec {

  private def cols(name: String): Seq[(String, DataType)] =
    Tables.load(spark, sf001, name).schema.map(f => f.name -> f.dataType)

  test("lineitem schema") {
    assert(cols("lineitem") == Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType))
  }

  // Pins the POST-normalization type: Tables.events must deliver session-UTC
  // TimestampType whether the fixture ships nanos-as-Long, TIMESTAMP_NTZ, or
  // micros-UTC. One assertion guards every physical shape.
  test("events schema after ts normalization") {
    assert(cols("events") == Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
  }

  test("events ts: Long nanos, TIMESTAMP_NTZ and TIMESTAMP give the same instants and the same day shift") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
    // micros since the epoch; -1 is 1969-12-31 23:59:59.999999
    val micros = Seq(1704067200123456L, 1704153600999999L, 0L, -1L)
    // the nanos shape carries 789 more nanos than each instant: the
    // normalisation must floor them, as DuckDB's TIMESTAMP_NS cast does
    // (-999 ns is -1 µs, not 0)
    val nanos = micros.map(us => us * 1000L + 789L).toDF("ts")
    val utc = micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val ntz = utc.select(col("ts").cast("timestamp_ntz").as("ts"))
    val shapes = Seq(nanos, ntz, utc)
    assert(shapes.map(_.schema("ts").dataType) == Seq(LongType, TimestampNTZType, TimestampType))
    def instants(df: DataFrame): Seq[Long] = {
      val out = Tables.eventsTs(df.schema).normalize(df)
      assert(out.schema("ts").dataType == TimestampType)
      out.select(unix_micros(col("ts"))).as[Long].collect().toSeq
    }
    shapes.foreach(df => assert(instants(df) == micros, df.schema("ts").dataType))
    val dayUs = 86400L * 1000000L
    shapes.foreach { df =>
      val shifted = df.select(Tables.eventsTs(df.schema).plusDays(10))
      assert(shifted.schema("ts").dataType == df.schema("ts").dataType)
      assert(instants(shifted) == micros.map(_ + 10 * dayUs), df.schema("ts").dataType)
    }
  }

  test("documents and embeddings schemas") {
    assert(cols("documents") == Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType))
    assert(cols("embeddings") == Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType))
  }

  test("star-schema key relationships hold at sf0.001") {
    import org.apache.spark.sql.functions.col
    val l = Tables.lineitem(spark, sf001)
    val o = Tables.orders(spark, sf001)
    // every lineitem references an existing order
    assert(l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0)
    val c = Tables.customer(spark, sf001)
    assert(o.join(c, col("o_custkey") === col("c_custkey"), "left_anti").count() == 0)
  }
}
