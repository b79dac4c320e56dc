package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Schema evolution on a growing parquet table — the everyday lakehouse
  * hazard: a pipeline adds a column, old files lack it, and the read
  * side must neither crash nor silently drop data. Pins Spark's actual
  * contract so the engine's ingestion paths can rely on it:
  * mergeSchema unions the schemas (missing columns become nulls), a
  * user-supplied schema does the same WITHOUT the footer-scan cost,
  * and the default single-footer read keeps the old shape.
  */
class SchemaEvolutionSpec extends SparkSpec {

  test("mergeSchema unions evolved schemas; explicit schema avoids the footer scan") {
    import spark.implicits._
    val dir = graft.streaming.TempDirs.create("graft_evolve_").toString
    // v1 files: (id, v); v2 adds a quality column
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/p=1")
    Seq((3L, 30.0, "hi"), (4L, 40.0, "lo")).toDF("id", "v", "q")
      .write.mode("overwrite").parquet(s"$dir/p=2")

    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("id", "p", "q", "v"))
    val rows = merged.orderBy("id")
      .select("id", "q").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(rows.toSeq == Seq(1L -> None, 2L -> None, 3L -> Some("hi"), 4L -> Some("lo")))

    // the scalable form: one declared schema, no footer sampling — old
    // files surface the new column as null the same way
    val declared = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("q", org.apache.spark.sql.types.StringType)))
    val viaSchema = spark.read.schema(declared).parquet(dir)
      .orderBy("id").select("id", "q").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    assert(viaSchema.toSeq == rows.toSeq)

    // aggregates stay correct across the null boundary
    val agg = spark.read.option("mergeSchema", "true").parquet(dir)
      .agg(sum("v"), count("q")).head()
    assert(agg.getDouble(0) == 100.0 && agg.getLong(1) == 2L)
  }
}
