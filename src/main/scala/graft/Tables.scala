package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver fixture tables (see FIXTURES.md), and
  * the one place that opens a fixture.
  *
  * All loads are plain parquet scans so Catalyst column pruning and filter
  * pushdown reach the file source. At cluster scale these would be
  * partitioned table locations; the API shape is identical.
  *
  * Every load passes the fixture's physical schema from [[schema]], a
  * JVM-wide memo, so it plans without Spark's footer-merge job (a
  * schema-less `spark.read.parquet` runs one job per call to infer it).
  * An entry is keyed on the qualified path, on the name, length and
  * modification time of every leaf file under it (listed through the
  * Hadoop FileSystem API, so any file system works), and on the session's
  * `spark.sql.legacy.parquet.nanosAsLong`. The inferred schema
  * is a function of exactly these, so the memo needs no SparkContext in
  * its key and no eviction: a table rewritten at the same path has new
  * leaf files, hence a new key, and never meets its old schema.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, dir)
      case n        => raw(spark, dir, n)
    }

  /** `<dir>/<table>.parquet` as stored: its physical schema, no
    * normalisation (the events `ts` keeps its file type).
    */
  def raw(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** nanosAsLong turns the events `ts` NANOS shape into a Long. */
  private final case class SchemaKey(path: String, leaves: Seq[(String, Long, Long)],
      nanosAsLong: Option[String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The physical schema of the parquet file or directory at `path`,
    * inferred once per [[SchemaKey]]; a concurrent open of the same files
    * waits for that one inference.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = Seq.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      leaves += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val key = SchemaKey(fs.makeQualified(p).toString, leaves.result().sorted,
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong"))
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Register every fixture as a temp view so the library's SQL surface
    * (spark.sql over the same tables DuckDB sees) is first-class.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** The events fixture, with `ts` normalised by [[eventsTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val physical = raw(spark, dir, "events")
    eventsTs(physical.schema).normalize(physical)
  }

  /** What a harness does with the events `ts` column, given the frame's
    * physical schema: `normalize` turns it into session-UTC TimestampType
    * (the type every event-time operator and withWatermark expects), and
    * `plusDays(d)` is `ts` moved `d` days later in its PHYSICAL type (the
    * heartbeat harnesses write rows that their stream reads back with the
    * fixture's own schema).
    */
  final case class EventsTs(normalize: DataFrame => DataFrame, plusDays: Long => Column)

  /** The one place that knows the shapes of the events `ts` column. It is
    * untrusted input: the fixture has shipped both as INT64
    * TIMESTAMP(NANOS,false) and as timestamp[us] with isAdjustedToUTC=false.
    *  - Long (nanos via spark.sql.legacy.parquet.nanosAsLong=true): floor
    *    to micros, as DuckDB's TIMESTAMP_NS cast does, and rebuild a
    *    timestamp.
    *  - TIMESTAMP_NTZ (micros, not UTC-adjusted): cast to TimestampType;
    *    with spark.sql.session.timeZone=UTC this is value-preserving.
    *  - TimestampType: already normalised.
    */
  def eventsTs(physical: StructType): EventsTs = physical("ts").dataType match {
    case LongType =>
      // integral `div`, not `/`: ns-since-epoch (~1.7e18) overflows double's
      // 53-bit mantissa; `div` truncates toward zero, so subtract the pmod
      // first to floor a pre-1970 value
      EventsTs(_.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000"))),
        days => (col("ts") + lit(days * 86400L * 1000000000L)).as("ts"))
    case TimestampNTZType => EventsTs(_.withColumn("ts", col("ts").cast("timestamp")), plusInterval)
    case _ => EventsTs(identity, plusInterval)
  }

  private def plusInterval(days: Long): Column = (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts")
}
