package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings every entry point shares.
  *
  * Scale stance: these configs are the local[32] test shape of what a
  * 1000-executor deployment would set cluster-side (AQE on, sensible
  * shuffle partitioning, UTC). Nothing here is semantically load-bearing
  * except the time zone, which the DuckDB oracle comparison requires.
  */
object Session {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // GSH storage-partitioned joins: the catalog resolves the
      // shard_<lo>_<step> clustering transform, and v2 bucketing lets a
      // key-grouped scan's layout reach the planner (off by default
      // upstream out of conservatism; only GShard reports one here).
      // allowJoinKeysSubsetOfPartitionKeys stays OFF (upstream default) —
      // the single-key shard transform needs no subset matching.
      .config("spark.sql.catalog.gshard", "graft.sources.GShardCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Recursive CTEs (q209's hierarchy rollup) unroll n·depth rows; the
      // upstream 1M-row seatbelt trips at ~200k nodes × 20 levels (the 10×
      // scale run found it — depth-bounded recursion is linear in data, so
      // the ROW limit is the wrong guard for it). Raise rows to 1e9 and
      // keep the LEVEL limit at its default 100: for depth-bounded
      // hierarchy walks, runaway recursion means runaway DEPTH, and the
      // level limit catches that regardless of data size. A cluster
      // deployment sets the same pair.
      .config("spark.sql.cteRecursionRowLimit", (1000000000).toString)
      // Some fixture generations ship events.ts as INT64 TIMESTAMP(NANOS);
      // Spark's TimestampType is micros-only, so read nanos as Long and let
      // Tables.events normalize (it also handles the TIMESTAMP_NTZ shape).
      // Harmless when the fixture is already micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Join strategy (r19; guide §3.1/§9) — three size-guarded settings,
      // each A/B-measured (OPTIMIZATION_r19.md), sort-merge stays the
      // fallback whenever a build side could not fit:
      //  - broadcast threshold 10m→32m: static plans are unchanged (the
      //    explicit broadcast() hints already cover the known-small
      //    sides); the win is AQE converting planned joins to broadcast
      //    at RUNTIME when the built side measures under 32m — an
      //    absolute-size guard, scale-independent by construction.
      //  - preferSortMergeJoin=false: the planner may pick shuffled-hash
      //    when its per-partition size conditions hold.
      //  - AQE maxShuffledHashJoinLocalMapThreshold=64m: rewrite a
      //    planned sort-merge to shuffled-hash at runtime when every
      //    post-shuffle partition is under 64m — per-PARTITION, so it
      //    scales with partitioning, not data volume.
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")

  /** Run `body` with `confs` set on the session, then put each key back:
    * its previous value, or `unset` if the session had not set it. The
    * previous values come from `getAll`, which holds only the keys the
    * session has set; `getOption` would report a registered default and
    * turn the restore into a set. The session conf is shared by every
    * thread on the session, so a caller that runs bodies concurrently
    * serializes them itself (StreamHarness.withStreamConf does).
    */
  def withConf[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
