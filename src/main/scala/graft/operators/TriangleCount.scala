package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Distributed triangle counting by the degree-ordered node-iterator
  * (Cohen 2009, "Graph twiddling in a MapReduce world"; the
  * Schank-Wagner 2005 forward algorithm — public literature; the same
  * orientation trick behind GraphX's TriangleCount). Complements q117
  * (SimilarityQueries), which ENUMERATES triangle triples by id-ordered
  * joins on the small sampled near-dup graph: id-ordering is fine there
  * but its wedge count is Σ deg² — on a skewed or dense graph the hub
  * nodes blow it up, which is exactly what this operator's
  * degree-ordering prevents. Here the workload is the DENSE co-purchase
  * graph (1.2M edges at sf0.1, avg degree 120) and the output is
  * counting-grade: per-node participation, local clustering
  * coefficients, global transitivity.
  *
  * The scale argument IS the orientation: directing every edge from its
  * (degree, id)-smaller endpoint bounds out-degree by O(√m), so the
  * wedge self-join generates O(m^1.5) candidates instead of the
  * Σ deg² of a naive shared-neighbor join — the difference between
  * feasible and not on a skewed 100 TB graph. Everything is equi joins
  * and hash aggregations: edges → degrees (explode + count), wedges
  * (oriented self-join on the spoke), closure (equi join against the
  * oriented edge set), per-node counts (explode the triangle's three
  * corners + count). Exact integer counts; the two clustering
  * coefficients are single divisions snapped at 1e-6.
  */
object TriangleCount {

  /** Distinct undirected co-purchase edges (u < v): parts sharing an
    * order. */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("u"))
    val b = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("v"))
    a.join(b, "ok").filter(col("u") < col("v")).select("u", "v").distinct()
  }

  /** (node, degree) from an undirected (u, v) edge frame. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Edges oriented from the (degree, id)-smaller endpoint — the √m
    * out-degree bound. */
  def oriented(edges: DataFrame, deg: DataFrame): DataFrame = {
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    edges.join(du, "u").join(dv, "v")
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("du")).otherwise(col("dv")).as("dsrc"),
        when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
  }

  /** Broadcast-closure ceiling (edge rows): the closure join's BUILD
    * side is the oriented edge list (m rows of two longs). Below this
    * bound it broadcasts — the O(m^1.5) wedge stream then streams
    * through a broadcast hash join where it is PRODUCED, paying no
    * shuffle at all (the wedge stream is √m times larger than the edge
    * list, so moving m once always beats moving m^1.5) — above it, the
    * closure falls back to the shuffled-hash form. 5M edges build a
    * ~200 MB hash relation, comfortable for executors with a few GB of
    * memory.
    */
  private val BroadcastEdgesMax = 5000000L

  /** Triangles as (a, b, c) corner rows, each triangle exactly once:
    * wedges centered on the orientation-smallest corner, closed against
    * the oriented edge set.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // guard the broadcast decision HERE too (r18 ADVICE): this public
    // entry used to default broadcastClosure=true unguarded, so a direct
    // caller above the ceiling would broadcast an arbitrarily large edge
    // list. Same real-count-vs-ceiling rule as reportFrom (guide §3.1).
    val nEdges = edges.count()
    trianglesFrom(oriented(edges, degrees(edges)),
      broadcastClosure = nEdges <= BroadcastEdgesMax)
  }

  /** [[triangles]] with the oriented edge set supplied — the report
    * caches it (it is consumed three times below).
    * @param broadcastClosure broadcast the closing edge set (see
    * [[BroadcastEdgesMax]]); false = the shuffled-hash fallback for
    * edge lists past the broadcast ceiling. No default: every caller
    * must decide from a REAL edge count against the ceiling (r18
    * ADVICE — the old `= true` default made the decision nowhere). */
  def trianglesFrom(o: DataFrame, broadcastClosure: Boolean): DataFrame = {
    val w1 = o.select(col("src").as("a"), col("dst").as("b"),
      col("ddst").as("db"))
    val w2 = o.select(col("src").as("a"), col("dst").as("c"),
      col("ddst").as("dc"))
    // each wedge once: spokes ordered by the same (degree, id) rule.
    // shuffle_hash: the wedge stream is O(m^1.5) rows and sort-merge
    // would SORT it; the hash join builds on the m-sized side and
    // streams the wedges. When the caller pre-partitions `o` by src
    // (reportFrom does — r18), both projections inherit
    // HashPartitioning(a) and the self-join plans with ZERO exchanges
    // (one repartition of m replaces two per-side shuffles).
    val wedges = w1.hint("shuffle_hash").join(w2, "a")
      .filter(col("db") < col("dc") || (col("db") === col("dc") && col("b") < col("c")))
    // (b, c) respects the orientation order, so a closing edge is
    // oriented exactly src=b, dst=c
    val closing = o.select(col("src").as("b"), col("dst").as("c"))
    val joined =
      if (broadcastClosure) wedges.join(broadcast(closing), Seq("b", "c"))
      else wedges.join(closing.hint("shuffle_hash"), Seq("b", "c"))
    joined.select("a", "b", "c")
  }

  /** Top-100 nodes by triangle participation with local clustering
    * coefficients and the global audit appended (the q241 audit-column
    * pattern).
    */
  def triangleReport(lineitem: DataFrame): DataFrame =
    reportFrom(coPurchaseEdges(lineitem))

  /** [[triangleReport]] parameterized over the (u < v, distinct) edge
    * frame — shared by q243 (co-purchase edges) and q266 (the banded
    * near-dup edge stream), so the two cannot drift.
    */
  def reportFrom(edges0: DataFrame): DataFrame = {
    // Multi-pass graph algorithm, so the edge list persists (the
    // LubyMis/ConnectedComponents precedent — GraphX does the same):
    // without these caches the 5s distinct-edges subtree recomputes
    // SIX times (w1, w2, closure, two degree joins, audit) — measured
    // 13.5s vs 6.5s cached at sf0.1. The m-sized caches are released
    // below once the single triangle pass has run; only the two
    // node-sized frames stay cached for the top-100 join.
    val edges = edges0.cache()
    val deg = degrees(edges).cache()
    // materializes the edge cache and decides the closure strategy
    // (broadcast below the ceiling, shuffled-hash above — guide §3.1:
    // pick the join deliberately from the REAL size, not an estimate);
    // the count doubles as the audit's n_edges, saving that agg too
    val nEdges = edges.count()
    // pre-partition the oriented edges by src (r18): the wedge
    // self-join's two projections then share this ONE exchange instead
    // of shuffling each side separately, and the per-partition hash
    // build happens in place
    val o = oriented(edges, deg).repartition(col("src")).cache()
    val tri = trianglesFrom(o, broadcastClosure = nEdges <= BroadcastEdgesMax)
    // node-sized; consumed by the audit aggregate AND the top-100 join,
    // so caching it avoids a second pass over the wedge join (the
    // expensive subtree) — the q229 tiny-ranked-state precedent
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .cache()
    // every corner row counts its triangle once, so sum(n_tri) = 3T —
    // the global count derives from the node aggregate, never a second
    // scan of tri
    val audit = perNode
      .agg((coalesce(sum("n_tri"), lit(0L)) / 3).cast("long").as("n_triangles"))
      .crossJoin(deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges")))
    // audit.head() is the eager pass: it materializes perNode (and so
    // the whole triangle pipeline) and the deg cache — after it the
    // m-sized frames are dead weight in a long-lived session (Verify
    // never clears caches) and are released here
    val aud = audit.head()
    o.unpersist()
    edges.unpersist()
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("local_cc",
        Metrics.canonRound(
          when(col("deg") >= 2,
            col("n_tri") * 2.0 / (col("deg") * (col("deg") - 1))).otherwise(0.0), 6))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(100)
      .withColumn("n_triangles", lit(aud.getLong(0)))
      .withColumn("n_edges", lit(nEdges))
      .withColumn("n_nodes", lit(aud.getLong(1)))
      .withColumn("transitivity",
        Metrics.canonRound(lit(aud.getLong(0) * 3.0 / aud.getLong(2)), 6))
      .orderBy(col("n_tri").desc, col("node"))
  }

  /** The report's DuckDB twin, parameterized over the WITH prefix that
    * must end having defined `e(u, v)` — the distinct u < v edge set —
    * so q243 and q266 replay the identical degree-ordered pipeline over
    * their own edge sources (the edgePipelineOracleCtes single-source
    * discipline).
    */
  def oracleSqlFrom(edgePrefix: String): String =
    s"""WITH $edgePrefix,
      deg AS MATERIALIZED (
        SELECT node, count(*) AS deg FROM
          (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node),
      o AS MATERIALIZED (
        SELECT CASE WHEN uf THEN u ELSE v END AS src,
               CASE WHEN uf THEN v ELSE u END AS dst,
               CASE WHEN uf THEN dv ELSE du END AS ddst
        FROM (SELECT e.u, e.v, du.deg AS du, dv.deg AS dv,
                (du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)) AS uf
              FROM e JOIN deg du ON du.node = e.u
                     JOIN deg dv ON dv.node = e.v)),
      tri AS MATERIALIZED (
        SELECT w1.a, w1.b, w2.c
        FROM (SELECT src AS a, dst AS b, ddst AS db FROM o) w1
        JOIN (SELECT src AS a, dst AS c, ddst AS dc FROM o) w2 USING (a)
        JOIN o cl ON cl.src = w1.b AND cl.dst = w2.c
        WHERE w1.db < w2.dc OR (w1.db = w2.dc AND w1.b < w2.c)),
      pn AS (
        SELECT node, count(*) AS n_tri FROM
          (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
        GROUP BY node),
      audit AS (
        SELECT (SELECT count(*) FROM tri) AS n_triangles,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges),
      top AS (
        SELECT deg.node, deg.deg, coalesce(pn.n_tri, 0) AS n_tri,
          floor(CASE WHEN deg.deg >= 2
                THEN coalesce(pn.n_tri, 0) * 2.0 / (deg.deg * (deg.deg - 1))
                ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS local_cc
        FROM deg LEFT JOIN pn ON pn.node = deg.node
        ORDER BY n_tri DESC, deg.node
        LIMIT 100)
      SELECT t.node, CAST(t.deg AS BIGINT) AS deg,
        CAST(t.n_tri AS BIGINT) AS n_tri, t.local_cc,
        CAST(a.n_triangles AS BIGINT) AS n_triangles,
        CAST(a.n_edges AS BIGINT) AS n_edges,
        CAST(a.n_nodes AS BIGINT) AS n_nodes,
        floor(a.n_triangles * 3.0 / a.n_wedges * 1e6 + 0.5) / 1e6 AS transitivity
      FROM top t CROSS JOIN audit a
      ORDER BY t.n_tri DESC, t.node"""

  val q243 = GQuery(
    "q243_triangle_count",
    (s, dir) => triangleReport(Tables.lineitem(s, dir)),
    Some(oracleSqlFrom("""e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey)""")))

  val all: Seq[GQuery] = Seq(q243)
}
