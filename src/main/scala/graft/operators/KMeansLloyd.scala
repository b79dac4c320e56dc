package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Metrics, VectorOps}

/** Deterministic Lloyd's k-means — the classic distributed clustering
  * loop (assign to nearest centroid → recompute means), with every
  * quantity pinned so the WHOLE iteration is cross-engine reproducible:
  * seeding is the k lowest vec_ids (no RNG), distances and centroid
  * coordinates are canonically rounded each round, means use the
  * order-independent decimal accumulation, argmin ties break by centroid
  * id, and an emptied cluster keeps its centroid. q53's MLlib KMeans
  * demonstrates the library path; this operator is the one whose every
  * round a DuckDB oracle replays (q127) — the same unrolled-CTE pattern
  * as PageRank (q122).
  *
  * The loop runs over a subspace-keyed frame (vec_id, s, v): centroids
  * are keyed (s, cid) and one distributed round trains every subspace at
  * once. Plain k-means is the case with one subspace; product
  * quantization ([[PqLloyd]]) runs the same loop over its m subspaces.
  * The distance is the caller's own.
  *
  * Scale shape per round: centroids are m×k×dsub scalars — broadcast as a
  * literal frame (the distributed-build→literal pattern); assignment is a
  * broadcast join on s + a struct-min hash aggregation per (point, s)
  * (map-side partial combine, no sort of the scored rows); the update is
  * posexplode → hash agg on (s, cluster, dim), map-side combinable. The
  * driver holds the centroids per round, never the data.
  */
object KMeansLloyd {

  /** (s, cid, centroid) per subspace s and cluster cid. */
  type Centroids = Seq[(Int, Long, Seq[Double])]

  private def l2(v: Column, c: Column): Column =
    Metrics.canonRound(call_function("graft_l2dist", v, c), 6)

  /** Returns (vec_id, cluster, dist): the final-round assignment and its
    * rounded distance-to-centroid.
    */
  def fit(e: DataFrame, k: Int, rounds: Int): DataFrame =
    fitDetailed(e, k, rounds)._1

  /** [[fit]] plus the centroids the final assignment was computed
    * against — what a spec needs to check assignment optimality
    * independently. Round r assigns against the centroids of r − 1
    * updates, so `rounds` rounds are `rounds − 1` updates of the seeds
    * followed by one assignment.
    */
  def fitDetailed(e: DataFrame, k: Int, rounds: Int): (DataFrame, Seq[(Long, Seq[Double])]) = {
    require(rounds >= 1, s"k-means needs at least one round, got $rounds")
    val subs = e.select(col("vec_id"), lit(0).as("s"),
      VectorOps.asDouble(col("embedding")).as("v")).cache()
    val centroids = train(subs, m = 1, k, rounds - 1, l2)
    // Materialize the final assignment while the point cache is still
    // live: unpersisting first would make every downstream read of the
    // returned frame re-derive the whole embedding lineage.
    val out = assign(subs, centroids, l2)
      .select(col("vec_id"), col("cid").cast("int").as("cluster"), col("d").as("dist"))
      .orderBy("vec_id").cache()
    out.count()
    subs.unpersist()
    (out, centroids.map { case (_, cid, c) => (cid, c) })
  }

  /** Lloyd's loop over `subs(vec_id, s, v)`, whose every vec_id has one
    * row in each of the m subspaces: seed each subspace with the k
    * lowest vec_ids' vectors, then run `updates` assign → mean rounds.
    * Returns the centroids sorted by (s, cid).
    */
  private[operators] def train(subs: DataFrame, m: Int, k: Int, updates: Int,
                               dist: (Column, Column) => Column): Centroids = {
    // an order-by/limit, not `vec_id < k`, so non-contiguous or
    // non-zero-based ids still yield exactly k centroids per subspace
    var centroids: Centroids = subs.orderBy("vec_id", "s").limit(k * m).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2).toSeq)).toSeq
      .sortBy(c => (c._1, c._2))
    for (_ <- 1 to updates) {
      val upd = assign(subs, centroids, dist).join(subs, Seq("vec_id", "s"))
        .select(col("s"), col("cid"), posexplode(col("v")))
        .toDF("s", "cid", "i", "x")
        .groupBy("s", "cid", "i")
        .agg(Metrics.canonRound(Metrics.exactMean(col("x")), 6).as("mu"))
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getInt(2), r.getDouble(3)))
      val byKey = upd.groupBy(_._1).map { case (key, xs) =>
        key -> xs.sortBy(_._2).map(_._3).toSeq
      }
      // an emptied cluster keeps its centroid (both engines agree on this)
      centroids = centroids.map { case (s, cid, old) =>
        (s, cid, byKey.getOrElse((s, cid), old)) }
    }
    centroids
  }

  /** The nearest centroid of every (vec_id, s): (vec_id, s, cid, d).
    * The argmin is min(struct(d, cid)): lexicographic struct ordering IS
    * the cid-tie-broken nearest-centroid rule, computed as a hash agg
    * with map-side partial combine instead of a full sort-shuffle of the
    * scored rows (the oracle's row_number replay is value-identical).
    */
  private[operators] def assign(subs: DataFrame, centroids: Centroids,
                                dist: (Column, Column) => Column): DataFrame = {
    val spark = subs.sparkSession
    import spark.implicits._
    subs.join(broadcast(centroids.toDF("s", "cid", "c")), "s")
      .withColumn("d", dist(col("v"), col("c")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("s"), col("m.cid").as("cid"), col("m.d").as("d"))
  }

  // ------------------------------------------------------------ oracle
  // The DuckDB twin of the loop, over CTEs `e(vec_id, …)` and
  // `sub(vec_id, s, v DOUBLE[])`. `dist(v, c)` renders the caller's
  // distance; its column is `d2` whatever the distance is. Round states
  // are MATERIALIZED — inlined CTE chains go exponential (see
  // BpeMerge.oracleSql).

  /** Seeds `c0(s, cid, c)` and `updates` rounds; the last defines the
    * CTE named [[centroidCte]]`(updates)`.
    */
  private[operators] def lloydCtes(k: Int, updates: Int, dsub: Int,
                                   dist: (String, String) => String): String = {
    val seeds =
      s"""seeds AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k),
      c0 AS MATERIALIZED (SELECT b.s, b.vec_id AS cid, b.v AS c
        FROM sub b JOIN seeds sd ON sd.vec_id = b.vec_id)"""
    val rounds = (1 to updates).map { r =>
      val prev = centroidCte(r - 1)
      s"""${assignCtes(s"a$r", s"m$r", prev, dist)},
      u$r AS (SELECT m.s, m.cid, g.i,
        floor((CAST(sum(CAST(floor(b.v[g.i]*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)/count(*))*1e6+0.5)/1e6 AS mu
        FROM m$r m JOIN sub b ON b.vec_id = m.vec_id AND b.s = m.s,
             (SELECT unnest(range(1, ${dsub + 1})) AS i) g
        GROUP BY m.s, m.cid, g.i),
      cn$r AS (SELECT s, cid, list(mu ORDER BY i) AS c FROM u$r GROUP BY s, cid),
      c${r}f AS MATERIALIZED (SELECT p.s, p.cid, coalesce(n.c, p.c) AS c
        FROM $prev p LEFT JOIN cn$r n ON n.s = p.s AND n.cid = p.cid)"""
    }
    (seeds +: rounds).mkString(",\n      ")
  }

  /** The CTE holding the centroids after `updates` rounds. */
  private[operators] def centroidCte(updates: Int): String =
    if (updates == 0) "c0" else s"c${updates}f"

  /** `scored(vec_id, s, cid, d2)` against the centroids in CTE `cents`,
    * and `winners(vec_id, s, cid)`, its cid-tie-broken argmin.
    */
  private[operators] def assignCtes(scored: String, winners: String, cents: String,
                                    dist: (String, String) => String): String =
    s"""$scored AS (SELECT b.vec_id, b.s, c.cid, ${dist("b.v", "c.c")} AS d2
        FROM sub b JOIN $cents c ON c.s = b.s),
      $winners AS MATERIALIZED (SELECT vec_id, s, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk FROM $scored)
        WHERE rk = 1)"""

  /** DuckDB twin of [[fitDetailed]] over `e(vec_id, emb DOUBLE[])`: one
    * subspace, `rounds − 1` updates, and the final assignment
    * `fit_scored` / `fit_assigned`.
    */
  private[operators] def fitCtes(k: Int, rounds: Int, dim: Int): String = {
    def l2Sql(v: String, c: String) = s"floor(list_distance($v, $c)*1e6+0.5)/1e6"
    s"""sub AS MATERIALIZED (SELECT vec_id, 0 AS s, emb AS v FROM e),
      ${lloydCtes(k, rounds - 1, dim, l2Sql)},
      ${assignCtes("fit_scored", "fit_assigned", centroidCte(rounds - 1), l2Sql)}"""
  }

  /** DuckDB twin of [[fit]] over the raw embeddings. */
  def oracleSql(k: Int, rounds: Int, dim: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      ${fitCtes(k, rounds, dim)}
      SELECT m.vec_id, CAST(m.cid AS INTEGER) AS cluster, a.d2 AS dist
      FROM fit_assigned m JOIN fit_scored a USING (vec_id, s, cid) ORDER BY vec_id"""
}
