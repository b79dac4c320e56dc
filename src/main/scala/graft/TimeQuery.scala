package graft

/** Isolated re-measure of registry queries through the noop sink (full
  * plan execution, cold cache per rep). Runs a warmup query first, then
  * each named query `reps` times, reporting min/median. Timing claims
  * about the engine as a whole go through perfbench instead.
  * Usage: runMain graft.TimeQuery <name>[,<name>...] [sfDir] [reps]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // decimal POINTS in every artifact (review finding, r15)
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Session.getOrCreate()
    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    exec("q01_pricing_summary") // warmup
    names.foreach { name =>
      val ts = (1 to reps).map { _ =>
        // cold per rep: caches built by a query (or by a PREVIOUS query —
        // canonicalized-plan cache matching crosses queries sharing
        // subtrees) would otherwise contaminate timings
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        exec(name)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val med = if (ts.size % 2 == 1) ts(ts.size / 2)
                else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
      println(f"[timequery] $name min=${ts.head}%.2fs med=$med%.2fs reps=$reps")
    }
    spark.stop()
  }
}
