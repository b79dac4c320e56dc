package graft

import scala.collection.mutable

/** Debug utility: run one registry query and print per-JOB wall time
  * and label ([[jobLabel]]), so optimization rounds can see
  * WHERE a multi-job query spends its seconds without the (disabled)
  * Spark UI. Timing is listener-based and approximate (job submit →
  * job end); overlapping concurrent jobs both count their own span.
  *
  * Usage: runMain graft.JobProfile <name>[,<name>...] [sfDir] [reps]
  */
object JobProfile {

  /** One line naming a job: the lines of its `spark.job.description`
    * joined, or, when that is blank, its last stage's call site (the
    * stage name's first line). A job that runs inside a streaming query
    * carries the description `<query name>\nid = …\nrunId = …\nbatch = N`,
    * whose first line is empty for an unnamed query.
    */
  def jobLabel(description: Option[String], stageName: Option[String]): String =
    description.map(_.split('\n').map(_.trim).filter(_.nonEmpty).mkString(" | "))
      .filter(_.nonEmpty)
      .orElse(stageName.map(_.takeWhile(_ != '\n')))
      .getOrElse("?")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Session.getOrCreate()
    val starts = mutable.Map.empty[Int, (Long, String)]
    val jobStartNs = mutable.Map.empty[Int, Long]
    val jobEndNs = mutable.Map.empty[Int, Long]
    val rows = mutable.ArrayBuffer.empty[(Int, Double, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = jobLabel(
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))),
          js.stageInfos.lastOption.map(_.name))
        starts(js.jobId) = (System.nanoTime(), desc.take(120))
        jobStartNs(js.jobId) = System.nanoTime()
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, desc) =>
          jobEndNs(je.jobId) = System.nanoTime()
          rows += ((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
        }
    }
    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    try exec(names.head) catch { case e: Throwable => println(s"warmup-ish first run failed: $e") }
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        rows.clear()
        val t0 = System.nanoTime()
        exec(name)
        val total = (System.nanoTime() - t0) / 1e9
        // give the async listener bus a beat so late JobEnd events count
        Thread.sleep(300)
        println(f"[jobprofile] $name rep=$rep total=$total%.2fs jobs=${rows.size}")
        rows.sortBy(-_._2).take(40).foreach { case (id, t, desc) =>
          println(f"[jobprofile]   job=$id%-4d ${t}%6.2fs  $desc")
        }
        // gaps: time between consecutive job ends/starts (driver-side
        // work between jobs — per-batch planning, metadata logs, etc.)
        val ordered = rows.sortBy(_._1)
        var gapTotal = 0.0
        ordered.sliding(2).foreach {
          case Seq((a: Int, _, _), (b: Int, _, _)) =>
            for (e <- jobEndNs.get(a); st <- jobStartNs.get(b)) {
              val gap = (st - e) / 1e9
              if (gap > 0) gapTotal += gap
              if (gap > 0.15)
                println(f"[jobprofile]   gap after job=$a%-4d ${gap}%6.2fs")
            }
          case _ =>
        }
        println(f"[jobprofile]   total inter-job gap ${gapTotal}%.2fs")
        spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
