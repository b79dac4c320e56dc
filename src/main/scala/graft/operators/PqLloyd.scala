package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Metrics, VectorOps}

/** DETERMINISTIC product quantization + ADC search — the oracle-checked
  * twin of [[PqAnn]] (whose MLlib k-means codebooks are seeded-but-
  * iterative and so rows-only). The m per-subspace codebooks are
  * [[KMeansLloyd.train]]'s loop over the subvector frame (vec_id, s, v),
  * every subspace trained in the same distributed round, so the WHOLE
  * pipeline (training, encoding, the asymmetric-distance scan) replays
  * in a DuckDB oracle of unrolled MATERIALIZED CTEs. The distance is the
  * rounded SQUARED subspace distance throughout.
  *
  * ADC is the deployed-PQ scan shape (PqAnn.search): the probes'
  * m×k×|probes| distance-table rows broadcast, the code frame streams,
  * one equi join on (s, cid) + a decimal-exact sum — no cross product.
  * Following Jégou/Douze/Schmid (TPAMI 2011), ADC sums SQUARED subspace
  * distances; each rounded addend is accumulated as DECIMAL(18,6) so the
  * m-term sum is order-independent in both engines.
  */
object PqLloyd {

  private def dist2(v: Column, c: Column): Column = {
    val d = call_function("graft_l2dist", v, c)
    Metrics.canonRound(d * d, 6)
  }

  /** Train m per-subspace codebooks with `rounds` updates of
    * [[KMeansLloyd.train]], encode the corpus with the FINAL codebooks,
    * ADC-shortlist `shortlist` candidates per probe, and exact-re-rank
    * the top `kNN` — the deployed two-stage PQ shape
    * ([[PqAnn.search]]): the quantizer prunes the corpus scan, exact
    * distances only touch the survivors. Returns (q_id, vec_id,
    * adc_dist, l2_dist, rank).
    */
  def search(e: DataFrame, m: Int, k: Int, rounds: Int, dim: Int,
             probeMax: Long, kNN: Int, shortlist: Int = 50): DataFrame = {
    require(rounds >= 1, s"PQ training needs at least one round, got $rounds")
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val spark = e.sparkSession
    import spark.implicits._
    val subs = e.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("s"), slice(col("emb"), s * dsub + 1, dsub).as("v"))
      }: _*)).as("sub"))
      .select(col("vec_id"), col("sub.s").as("s"), col("sub.v").as("v"))
      // cached: every Lloyd round re-reads this frame for assignment +
      // update. Its partition layout is inherited from the input scan
      // (explode is narrow) — already few-partition at fixture scale,
      // corpus-parallel on a real table. Decimal-exact means and fully
      // tie-broken argmins keep the result partition-layout-independent
      // (oracle-certified).
      .cache()
    val books = KMeansLloyd.train(subs, m, k, rounds, dist2)
    val codes = KMeansLloyd.assign(subs, books, dist2) // encode with the final codebooks
    val cdf = books.toDF("s", "cid", "c")
    val dtab = subs.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("q_id"), col("s"), col("v"))
      .join(broadcast(cdf), "s")
      .select(col("q_id"), col("s"), col("cid"), dist2(col("v"), col("c")).as("dq2"))
    val adc = codes.join(broadcast(dtab), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("dq2").cast("decimal(18,6)")).cast("double").as("adc_dist"))
    val cands = adc
      .withColumn("adc_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("adc_rank") <= shortlist)
    // exact re-rank of the shortlist: full vectors only for survivors,
    // probe side broadcast
    val full = e.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val probesFull = full.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val out = cands
      .join(full, "vec_id")
      .join(broadcast(probesFull), "q_id")
      .withColumn("l2_dist", dist2(col("emb"), col("q_emb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("l2_dist"), col("vec_id"))))
      .filter(col("rank") <= kNN)
      .select(col("q_id"), col("vec_id"), col("adc_dist"), col("l2_dist"), col("rank"))
      .orderBy("q_id", "rank")
      .cache()
    out.count()
    subs.unpersist()
    out
  }

  /** DuckDB twin: [[KMeansLloyd.lloydCtes]]' m-subspace rounds, the
    * encoding, and the ADC scan unrolled as MATERIALIZED CTEs (invariant
    * 12: round states materialize, winners join exactly once).
    * `embExpr` is the DuckDB expression producing the DOUBLE[] the whole
    * pipeline runs on — default raw cast (q135's L2 space); q107 passes
    * the 1e-6-snapped unit normalization so the SAME unrolled oracle
    * replays PQ on the cosine sphere.
    */
  def oracleSql(m: Int, k: Int, rounds: Int, dim: Int, probeMax: Long, kNN: Int,
                shortlist: Int = 50,
                embExpr: String = "CAST(embedding AS DOUBLE[])"): String = {
    val dsub = dim / m
    def d2(v: String, c: String) =
      s"floor((list_distance($v, $c) * list_distance($v, $c))*1e6+0.5)/1e6"
    val books = KMeansLloyd.centroidCte(rounds)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, $embExpr AS emb FROM embeddings),
      sub AS MATERIALIZED (SELECT vec_id, g.s, list_slice(emb, g.s*$dsub+1, g.s*$dsub+$dsub) AS v
        FROM e, (SELECT unnest(range(0, $m)) AS s) g),
      ${KMeansLloyd.lloydCtes(k, rounds, dsub, d2)},
      ${KMeansLloyd.assignCtes("enc0", "codes", books, d2)},
      dtab AS MATERIALIZED (SELECT b.vec_id AS q_id, b.s, c.cid, ${d2("b.v", "c.c")} AS dq2
        FROM sub b JOIN $books c ON c.s = b.s
        WHERE b.vec_id < $probeMax),
      adc AS (SELECT d.q_id, x.vec_id,
          CAST(sum(CAST(d.dq2 AS DECIMAL(18,6))) AS DOUBLE) AS adc_dist
        FROM codes x JOIN dtab d ON d.s = x.s AND d.cid = x.cid
        WHERE x.vec_id <> d.q_id
        GROUP BY d.q_id, x.vec_id),
      cands AS (SELECT q_id, vec_id, adc_dist FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS adc_rank
        FROM adc)
        WHERE adc_rank <= $shortlist),
      rer AS (SELECT cd.q_id, cd.vec_id, cd.adc_dist, ${d2("x.emb", "q.emb")} AS l2_dist
        FROM cands cd
        JOIN e x ON x.vec_id = cd.vec_id
        JOIN e q ON q.vec_id = cd.q_id)
      SELECT q_id, vec_id, adc_dist, l2_dist, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY l2_dist, vec_id) AS rank
        FROM rer)
      WHERE rank <= $kNN ORDER BY q_id, rank"""
  }
}
