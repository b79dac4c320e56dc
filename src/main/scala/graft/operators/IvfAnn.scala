package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** IVF-style approximate nearest neighbor (the "IVF variant" the north
  * star names next to LSH): a coarse k-means quantizer partitions the
  * corpus into nList inverted lists; a probe searches only its nProbe
  * nearest lists with exact cosine.
  *
  * Scale shape: centroids are tiny (nList × dim) and broadcast; list
  * assignment is a per-row argmin over the broadcast centroids (no
  * shuffle beyond the final top-k); candidate generation is an equi join
  * on list id. Recall/nProbe trades exactly like FAISS IVF-flat — public
  * literature (Jégou et al., inverted file indexing).
  */
object IvfAnn {

  /** L2-normalized copy of the embedding — IVF for COSINE must cluster and
    * probe on the unit sphere (L2 order ≡ cosine order there); clustering
    * raw vectors partitions partly by magnitude and tanks recall.
    */
  private def normalized(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = VectorOps.norm(VectorOps.asDouble(c))
    transform(c, x => (x.cast("double") / n).cast("float"))
  }

  /** (index, centroids): corpus rows tagged with their inverted-list id.
    *
    * The returned index DataFrame is CACHED and eagerly materialized — it
    * is an index, meant to be probed repeatedly (search() alone reads it
    * twice). Caller owns the cache: `index.unpersist()` when done probing
    * (perfbench/TimeQuery clear the cache per query; Verify leaves the
    * few-MB gate-scale caches to accumulate — see DedupQueries.capBuckets). The KMeans input cache is released here, inside the
    * builder, once the index is materialized.
    */
  def buildIndex(spark: SparkSession, embeddings: DataFrame, nList: Int,
                 seed: Long = 42L): (DataFrame, DataFrame) = {
    // cache: KMeans re-reads its input every iteration, and the lineage
    // (normalize + array_to_vector) would otherwise re-run ~10×
    val vecs = embeddings
      .withColumn("unit", normalized(col("embedding")))
      .withColumn("v", array_to_vector(col("unit")))
      .cache()
    // random init, not k-means|| (which costs several extra full passes):
    // an IVF coarse quantizer only partitions space — multi-probe search
    // absorbs mediocre cluster boundaries, and the recall spec holds
    val km = new KMeans().setK(nList).setSeed(seed).setFeaturesCol("v")
      .setPredictionCol("list_id").setMaxIter(10).setInitMode("random")
    val model = km.fit(vecs)
    val indexed = model.transform(vecs).drop("v").cache()
    indexed.count() // materialize before releasing the input cache below
    vecs.unpersist(blocking = false)
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
        .toSeq).toDF("list_id", "centroid")
    (indexed, centroids)
  }

  /** Top-k cosine neighbors for each probe id, searching nProbe lists. */
  def search(indexed: DataFrame, centroids: DataFrame, probeIds: Seq[Long],
             k: Int, nProbe: Int): DataFrame = {
    val probes = indexed.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"), col("unit").as("q_unit"))
    // nProbe nearest lists per probe (probe × centroid cross is tiny);
    // distance measured unit-vector-to-centroid, matching the index space
    val wLists = Window.partitionBy("q_id").orderBy(col("c_dist").asc, col("list_id").asc)
    val probeLists = probes.crossJoin(broadcast(centroids))
      .withColumn("c_dist", VectorOps.euclidean(col("q_unit"), col("centroid")))
      .withColumn("lr", row_number().over(wLists))
      .filter(col("lr") <= nProbe)
      .select("q_id", "q_vec", "list_id")
    // exact cosine within the probed lists only
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id").asc)
    indexed.join(broadcast(probeLists), Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Metrics.canonRound(
          VectorOps.cosine(col("q_vec"), col("embedding")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("q_id", "rank")
  }
}
