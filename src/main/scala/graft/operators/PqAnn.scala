package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public literature): split each
  * vector into `m` subvectors, k-means each subspace into a k-entry
  * codebook, store each vector as `m` small codes, and answer queries with
  * asymmetric distance computation (ADC) — per probe, an m×k table of
  * exact subspace distances, summed over the corpus codes.
  *
  * Why it matters at 100 TB: the index is m bytes-ish per vector instead
  * of dim floats (here 8 codes vs 64 floats = 32× smaller), so the
  * scan side of a query reads codes, not vectors. The dataflow is
  * Spark-shaped end to end: encoding is m chained KMeans transforms
  * (one scan), and the ADC scan is `posexplode(codes) ⋈ broadcast(table)
  * → sum` — an equi join on (subspace, code) against an m×k×|probes| row
  * table, never a cross product and never a driver loop over the corpus.
  * Complements the exact (q50), LSH (q51), and IVF (q53) paths; like IVF
  * the k-means quantizer is seeded-but-iterative, so correctness evidence
  * is the SimilaritySpec recall bound, not a SQL oracle.
  */
object PqAnn {

  /** PQ for COSINE works on the unit sphere (L2 order ≡ cosine order
    * there) — same reasoning as IvfAnn: quantizing raw vectors spends
    * codebook entries on magnitude.
    */
  private def normalized(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = graft.functions.VectorOps.norm(graft.functions.VectorOps.asDouble(c))
    transform(c, x => x.cast("double") / n)
  }

  /** Build the PQ index: m per-subspace codebooks plus the encoded code
    * table.
    *
    * CACHE CONTRACT: the returned codes frame is `.cache()`d and eagerly
    * materialized (every downstream ADC search scans it, and the
    * m-transform encode chain would otherwise re-run per search). The
    * CALLER owns the cache and must `.unpersist()` the frame when done
    * with the index, or it leaks block-manager memory in a long-lived
    * session (same contract as DedupQueries.capBuckets).
    *
    * @return (codes frame: vec_id, codes ARRAY<INT>; codebooks [m][k][dsub]). */
  def buildIndex(spark: SparkSession, embeddings: DataFrame,
                 m: Int = 8, k: Int = 16, dim: Int = 64): (DataFrame, Array[Array[Array[Double]]]) = {
    val dsub = dim / m
    val unit = embeddings.select(col("vec_id"), normalized(col("embedding")).as("u"))
    val subCols = (0 until m).map(i =>
      array_to_vector(slice(col("u"), i * dsub + 1, dsub)).as(s"sub$i"))
    // cached: m k-means fits re-scan this frame every iteration. Its
    // partition layout is inherited from the input scan (the projection
    // is narrow), so it is already few-partition at fixture scale and
    // corpus-parallel on a real table — no coalesce needed: a
    // coalesce(max(4, input partitions)) here is provably a no-op
    // (coalesce never raises a count and the target equals the current
    // count), and a literal coalesce(4) would serialize a real corpus.
    val subs = unit.select((col("vec_id") +: subCols): _*).cache()
    subs.count()
    // the m subspace fits are independent → submit them CONCURRENTLY
    // from a thread pool (CrossValidator.setParallelism-style, like
    // Stacking.fit); sequential fits paid m× job-launch latency
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 8))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val models =
      try {
        val futs = (0 until m).map { i =>
          scala.concurrent.Future {
            new KMeans().setK(k).setSeed(42L + i)
              .setFeaturesCol(s"sub$i").setPredictionCol(s"c$i")
              // random init + bounded iterations: k-means|| and long
              // convergence pay passes a lossy codebook doesn't need
              // (same choice as IvfAnn's quantizer)
              .setInitMode("random").setMaxIter(5)
              .fit(subs)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    // materialize the code table (vec_id + m ints — the 32×-compressed
    // form), then release the subvector cache: encoded is what every
    // downstream search scans, and leaving subs pinned would leak cache
    // in a long-lived session (the same leak TableMaintenance.bootstrapCi
    // had)
    val encoded = models.foldLeft(subs: DataFrame)((acc, mdl) => mdl.transform(acc))
      .select(col("vec_id"), array((0 until m).map(i => col(s"c$i")): _*).as("codes"))
      .cache()
    encoded.count()
    subs.unpersist()
    (encoded, models.map(_.clusterCenters.map(_.toArray)).toArray)
  }

  /** ADC shortlist + exact re-rank for a fixed probe set — the deployed
    * PQ shape: the probes' m×k distance tables ship as ONE broadcast
    * frame (|probes|·m·k rows — tiny) and the corpus-side ADC scan is an
    * explode + equi join + sum over CODES (never touching full vectors);
    * only the per-probe shortlist (kNN·shortlistFactor rows) joins the
    * true vectors back for an exact cosine re-rank. At 100 TB the scan
    * reads the 32×-compressed code table; full vectors are fetched for a
    * few dozen rows per probe.
    */
  def search(spark: SparkSession, embeddings: DataFrame, encoded: DataFrame,
             codebooks: Array[Array[Array[Double]]],
             probeIds: Seq[Long], kNN: Int = 10, shortlistFactor: Int = 5): DataFrame = {
    import spark.implicits._
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val probes = embeddings.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id"), normalized(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val tableRows = for {
      (qid, q) <- probes.toSeq
      sub <- 0 until m
      (cent, code) <- codebooks(sub).zipWithIndex
    } yield {
      var d = 0.0
      var j = 0
      while (j < dsub) { val diff = q(sub * dsub + j) - cent(j); d += diff * diff; j += 1 }
      (qid, sub, code, d)
    }
    val table = tableRows.toDF("q_id", "sub", "code", "d")
    val expl = encoded.select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
    val adc = expl.join(broadcast(table), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("d")).as("adc_dist"))
    val wAdc = Window.partitionBy("q_id").orderBy(col("adc_dist").asc, col("vec_id").asc)
    val shortlist = adc.withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= kNN * shortlistFactor)
      .select("q_id", "vec_id")
    // exact re-rank: only shortlist rows touch full vectors
    val qv = embeddings.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cv = embeddings.select(col("vec_id"), col("embedding"))
    val exact = shortlist.join(broadcast(qv), "q_id").join(cv, "vec_id")
      .select(col("q_id"), col("vec_id"),
        graft.functions.Metrics.canonRound(
          graft.functions.VectorOps.cosine(col("q_vec"), col("embedding")), 6).as("cos_sim"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .orderBy("q_id", "rank")
  }
}
