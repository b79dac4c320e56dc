package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Landing files for file-stream tests. */
object Landing {

  /** Write `df` as ONE parquet file and move it into the watched `dir` as
    * `name`. The move is atomic, so a running stream never lists a
    * half-written file. For input that arrives while the stream runs.
    */
  def feed(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = TempDirs.create("graft_feed_")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val listing = Files.list(staging)
    try {
      val part = listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } finally listing.close()
  }

  /** `batches`, staged before the stream starts, as a stream that
    * delivers them in order, one micro-batch each
    * ([[StreamHarness.stageSlices]]).
    */
  def sliceBatches(batches: Seq[DataFrame]): DataFrame = {
    val tagged = batches.zipWithIndex
      .map { case (b, i) => b.withColumn("__batch", lit(i)) }
      .reduce(_ unionByName _)
    StreamHarness.stageSlices(tagged, col("__batch"), batches.indices)._1.drop("__batch")
  }
}
