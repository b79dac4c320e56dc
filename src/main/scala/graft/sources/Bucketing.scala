package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed-table helpers: co-bucketing orders and lineitem on
  * orderkey makes their join shuffle-free (both sides pre-hashed into
  * the same bucket layout at write time). At 100 TB this converts the
  * one unavoidable fact⋈fact shuffle into a local zip of bucket files.
  */
object Bucketing {

  /** Write df as an EXTERNAL bucketed table `table` whose files live at
    * `path` (bucketBy needs a catalog table; plain file writes can't
    * carry bucket metadata). The caller owns `path`, so nothing lands in
    * the session's warehouse. Overwriting `table` at a new path drops
    * only the catalog entry: a frame read from the old table still
    * reads the old files.
    */
  def writeBucketed(df: DataFrame, table: String, path: String, bucketCol: String,
                    nBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet").option("path", path)
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  /** True if the physical plan of `df` contains no shuffle exchange —
    * the property co-bucketed joins buy. ANY non-broadcast Exchange
    * counts (hash, range, single-partition): the original
    * hash-only grep would have certified a plan with a range or
    * singleton shuffle as "shuffle-free" (review finding, r15).
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
}
