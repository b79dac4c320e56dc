package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // decimal POINTS in every artifact (review finding, r15)
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg (local debugging only — the driver passes 2):
    // comma-separated name substrings; only matching queries run.
    val only = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = Session.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // 4-way concurrent query execution: independent jobs share the session
    // (Spark schedules them across the local[32] pool), halving gate wall
    // time. Each query's own plan is still fully deterministic.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.filter(t => selected(t._1)).map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val json = org.json4s.jackson.Serialization.write(
      SparkEntry.oracleSql.filter(t => selected(t._1)))(org.json4s.DefaultFormats)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
