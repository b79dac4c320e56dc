package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Metrics, VectorOps}

/** Deterministic IVF ANN — the oracle-checked twin of q53's MLlib-KMeans
  * IVF ([[IvfAnn]]), built the way [[PqLloyd]] twins q107: the coarse
  * quantizer is [[KMeansLloyd]] (lowest-id seeding, rounded distances and
  * means, id-tiebroken argmin), run on L2-NORMALIZED vectors snapped to
  * 1e-6 (IVF for cosine must cluster the unit sphere — and the snap is
  * what makes the normalization cross-engine exact: both engines divide
  * by the same left-to-right ⟨x,x⟩ sum and floor at the same grid).
  * Probing and search mirror IvfAnn: nProbe nearest lists by rounded
  * centroid distance (cid tie-break), exact cosine on the RAW embeddings
  * within the probed lists only, top-k by (cos desc, vec_id).
  *
  * Scale shape per stage: Lloyd rounds are broadcast-assignment +
  * (cluster, dim) hash agg (KMeansLloyd's analysis); the probe table is
  * probes × nProbe rows broadcast against the inverted lists — an equi
  * join on list id, never all-pairs. Inverted-file search is public
  * literature (Jégou et al.); determinism scheme is this repo's
  * unrolled-CTE playbook.
  */
object IvfLloyd {

  /** Unit-normalized, 1e-6-snapped copy of the embeddings: the
    * clustering/probing space. Public because q107's cosine-PQ runs the
    * [[PqLloyd]] pipeline on exactly this frame. */
  def unitFrame(emb: DataFrame): DataFrame = {
    val raw = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val nrm = sqrt(call_function("graft_dot", col("emb"), col("emb")))
    raw.select(col("vec_id"),
      transform(col("emb"), x => Metrics.canonRound(x / nrm, 6)).as("embedding"))
  }

  /** Top-`kNN` cosine neighbors for every probe (vec_id < probeMax),
    * searching the `nProbe` nearest of `nList` inverted lists. */
  def search(emb: DataFrame, nList: Int, rounds: Int, probeMax: Long,
             nProbe: Int, kNN: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val raw = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val unit = unitFrame(emb)
    val (assigned, cents) = KMeansLloyd.fitDetailed(unit, nList, rounds)
    val cdf = cents.toDF("cid", "c")
    val probes = unit.filter(col("vec_id") < probeMax)
      .select(col("vec_id").as("q_id"), col("embedding").as("qu"))
    val wl = Window.partitionBy("q_id").orderBy(col("cd"), col("cid"))
    val pl = probes.crossJoin(broadcast(cdf))
      .withColumn("cd", Metrics.canonRound(call_function("graft_l2dist", col("qu"), col("c")), 6))
      .withColumn("lr", row_number().over(wl))
      .filter(col("lr") <= nProbe)
      .select(col("q_id"), col("cid"))
    val praw = raw.select(col("vec_id").as("q_id"), col("emb").as("qr"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.select(col("vec_id"), col("cluster").cast("long").as("cid"))
      .join(broadcast(pl), "cid")
      .filter(col("vec_id") =!= col("q_id"))
      .join(raw, "vec_id")
      .join(broadcast(praw), "q_id")
      .withColumn("cos_sim",
        Metrics.canonRound(call_function("graft_cosine", col("qr"), col("emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("vec_id"), col("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** DuckDB twin of [[search]]: normalization + [[KMeansLloyd.fitCtes]]
    * + probe + in-list exact cosine, all replayed. */
  def oracleSql(nList: Int, rounds: Int, dim: Int, probeMax: Long,
                nProbe: Int, kNN: Int): String = {
    val cents = KMeansLloyd.centroidCte(rounds - 1)
    s"""WITH raw AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      e AS MATERIALIZED (
        SELECT vec_id,
          list_transform(emb,
            x -> floor(x / sqrt(list_dot_product(emb, emb)) * 1e6 + 0.5)/1e6) AS emb
        FROM raw),
      ${KMeansLloyd.fitCtes(nList, rounds, dim)},
      probes AS (SELECT vec_id AS q_id, emb AS q FROM e WHERE vec_id < $probeMax),
      pl AS (SELECT q_id, cid FROM (
          SELECT p.q_id, c.cid,
            row_number() OVER (PARTITION BY p.q_id
              ORDER BY floor(list_distance(p.q, c.c)*1e6 + 0.5)/1e6, c.cid) AS lr
          FROM probes p, $cents c)
        WHERE lr <= $nProbe),
      cand AS (
        SELECT pl.q_id, m.vec_id FROM pl
        JOIN fit_assigned m ON m.cid = pl.cid AND m.vec_id <> pl.q_id),
      scored AS (
        SELECT c.q_id, c.vec_id,
          floor(list_cosine_similarity(pr.emb, r.emb)*1e6 + 0.5)/1e6 AS cos_sim
        FROM cand c
        JOIN raw pr ON pr.vec_id = c.q_id
        JOIN raw r ON r.vec_id = c.vec_id),
      ranked AS (
        SELECT q_id, vec_id, cos_sim,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
        FROM scored)
      SELECT q_id, rank, vec_id, cos_sim FROM ranked
      WHERE rank <= $kNN ORDER BY q_id, rank"""
  }
}
