package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupQueries

/** Streaming-maintained MinHash/LSH band index — the one dedup lifecycle
  * stage the r10 round had not demonstrated: a batch-built signature/band
  * index that a stream of new documents EXTENDS per micro-batch, emitting
  * new-vs-index candidate pairs as it goes (how a production corpus
  * dedup keeps its index fresh between full rebuilds: C4/RefinedWeb-style
  * pipelines re-shingle only arrivals, not the corpus).
  *
  * Dataflow per micro-batch (the q203 foreachBatch + idempotent-merge
  * idiom): (1) signature+band the batch's documents (md5/K-M scheme —
  * engine-reproducible, q56); (2) equi-join batch bands against the
  * CURRENT index AND against themselves (within-batch pairs) → emit
  * banded candidates; (3) MERGE the batch's bands into the index. Band
  * rows are insert-only (a new doc never rewrites an old doc's bands),
  * so the merge is a pure append — at 100 TB this is an INSERT into a
  * bucketed band table plus an appended pairs log, never a rewrite; the
  * versioned-parquet rewrite here is the local-harness stand-in, exactly
  * like UpsertStreams. A replayed batch id is a no-op on BOTH the index
  * and the pairs log, so at-least-once delivery composes to exactly-once
  * output.
  *
  * The invariant that makes this oracle-checkable (the q179/q181
  * argument): every band-sharing pair of the FULL corpus lands in the
  * pair log exactly once regardless of micro-batch slicing —
  * both-in-base pairs come from the bootstrap's full-rebuild emission,
  * cross-batch pairs land when the LATER doc arrives (the earlier one is
  * already merged), and same-batch pairs land in the within-batch join.
  * The collected pair log therefore equals the batch banded self-join
  * over ALL documents — one plain SQL oracle, independent of slicing.
  *
  * Hot buckets: the emit joins run uncapped here so the slicing-
  * independence invariant holds exactly (a bucket cap's survivors
  * depend on what was in the index at batch time, which is precisely
  * the slicing). A production deployment bounds over-dense buckets with
  * DedupQueries.capBuckets on the index side of the emit join — the
  * q47/q100 machinery — trading exact pair-log equality for the same
  * bounded-candidate guarantee the batch path makes.
  */
object IndexStreams {

  /** Bands (doc_id, band, bh) for a document frame, md5/K-M 8-slot
    * signatures in 4×2 string-keyed bands — the q56/q100 scheme.
    */
  private def bandsOf(docs: DataFrame): DataFrame =
    DedupQueries.bandedConcat(DedupQueries.minhashSignaturesMd5(docs, nHashes = 8),
        bands = 4, rows = 2)
      .select(col("doc_id"), col("band"), col("bh"))

  /** Banded candidate pairs between two band frames (id_a < id_b), with
    * the shared-band count per pair.
    */
  private def pairsBetween(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(b.select(col("band"), col("bh"), col("doc_id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"))

  /** Build the base index from doc_id % 3 == 0, stream the rest in two
    * slices, maintain the index per batch, and return the accumulated
    * candidate-pair log: (id_a, id_b, n_bands) over the whole corpus.
    */
  def streamingMinhashIndex(spark: SparkSession, dir: String,
      queryName: String = "stream_minhash_index"): DataFrame =
    streamingMinhashIndexWithState(spark, dir, queryName)._1

  /** As [[streamingMinhashIndex]], also returning the FINAL index table
    * (doc_id, band, bh) — StreamingSpec pins it equal to the batch build.
    */
  def streamingMinhashIndexWithState(spark: SparkSession, dir: String,
      queryName: String = "stream_minhash_index"): (DataFrame, DataFrame) =
    StreamHarness.withStreamConf(spark) {
      val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 3 === 0)
      val streamed = docs.filter(col("doc_id") % 3 =!= 0)

      val indexBase = TempDirs.create("graft_mhidx_state_")
      val pairsDir = TempDirs.create("graft_mhidx_pairs_")
      def indexPath(v: Long) = s"$indexBase/v$v"

      // bootstrap: batch-built index over the base corpus, plus the
      // base's own internal candidate pairs (the full-rebuild output the
      // stream then keeps fresh)
      val baseBands = bandsOf(base).cache()
      baseBands.count()
      baseBands.write.mode("overwrite").parquet(indexPath(0))
      pairsBetween(baseBands, baseBands)
        .write.mode("overwrite").parquet(s"$pairsDir/batch_base")
      baseBands.unpersist()

      // landing slices: two micro-batches of new documents
      val (stage, schema) = StreamHarness.stageSlices(
        streamed, (col("doc_id") % 3).cast("int"), Seq(1, 2), "graft_mhidx_stage_")

      var version = 0L
      var lastApplied = -1L
      val applyBatch: (Dataset[Row], Long) => Unit = { (batch, id) =>
        if (id != lastApplied) {
          val batchBands = bandsOf(batch.toDF()).cache()
          batchBands.count()
          val index = spark.read.parquet(indexPath(version))
          // emit BEFORE merge: new-vs-index plus within-batch candidates.
          // The two joins are disjoint by construction (a doc is in the
          // index xor in the batch), so the pair log needs no dedup.
          pairsBetween(index, batchBands)
            .unionByName(pairsBetween(batchBands, index))
            .unionByName(pairsBetween(batchBands, batchBands))
            .groupBy("id_a", "id_b").agg(sum("n_bands").as("n_bands"))
            .write.mode("overwrite").parquet(s"$pairsDir/batch_$id")
          // insert-only merge: the index never rewrites existing rows
          index.unionByName(batchBands)
            .write.mode("overwrite").parquet(indexPath(version + 1))
          version += 1
          lastApplied = id
          batchBands.unpersist()
        }
      }
      val q = StreamHarness.sliceStream(spark, stage, schema)
        .writeStream.foreachBatch(applyBatch).queryName(queryName).start()
      try q.processAllAvailable() finally q.stop()
      require(version >= 1, "stream produced no batches")

      // the batch dirs by name: a glob path makes Spark's sink-metadata
      // probe look for a directory literally named `batch_*`
      val batches = pairsDir.toFile.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_")).map(_.toString).sorted
      (spark.read.parquet(batches.toSeq: _*).orderBy("id_a", "id_b"),
        spark.read.parquet(indexPath(version)))
    }

  /** Final index contents (doc_id, band, bh) after the run above — used
    * by StreamingSpec to pin stream-built ≡ batch-built. Exposed as the
    * batch builder so the comparison states the contract directly.
    */
  def batchBands(spark: SparkSession, dir: String): DataFrame =
    bandsOf(graft.Tables.documents(spark, dir).select(col("doc_id"), col("text")))
}
