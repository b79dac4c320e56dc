package graft

import org.apache.spark.sql.execution.FormattedMode

/** Debug utility: run one registry query by name against a fixture dir.
  * The query runs once (`collect()`); its first 20 rows and row count are
  * printed from that one result. With `--explain`, the formatted plan is
  * printed AFTER the run, so under AQE it is the final adaptive plan
  * (`isFinalPlan=true`) — the join strategies, sorts and exchanges the
  * query actually executed with.
  * Usage: runMain graft.RunQuery <name> [sfDir] [--explain]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.01")
    val explain = args.contains("--explain")
    val spark = Session.getOrCreate()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val rows = df.collect()
    val elapsed = (System.nanoTime() - t0) / 1e9
    println(df.columns.mkString("\t"))
    rows.take(20).foreach(r => println(r.toSeq.mkString("\t")))
    if (explain) println(df.queryExecution.explainString(FormattedMode))
    println(f"[runquery] $name rows=${rows.length} elapsed=$elapsed%.2fs")
    spark.stop()
  }
}
