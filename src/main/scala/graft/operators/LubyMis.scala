package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Luby's maximal-independent-set (Luby 1986, "A Simple Parallel
  * Algorithm for the Maximal Independent Set Problem" — public
  * literature), the local-minimum variant, as the dedup SURVIVOR-CHOICE
  * primitive: an MIS of the near-dup graph is a keep-set in which no two
  * kept documents are near-duplicates and nothing more can be kept — the
  * complement of the usual "drop everything but one per cluster" rule,
  * computed without ever materializing clusters.
  *
  * Determinism: Luby's random per-round priorities are replaced by a
  * modular-arithmetic permutation p_r(v) = (48271·(v+1) + 16807·r) mod
  * (2³¹−1) — minstd constants, modulus prime, so for each round the map
  * is INJECTIVE on node ids DISTINCT MODULO 2³¹−1 (ids spanning more
  * than the modulus could collide; mis() requires the id spread to stay
  * below it, which a near-dup graph keyed by doc/vec ids satisfies by
  * orders of magnitude) and every round replays engine-exactly in
  * 64-bit integer arithmetic (operands stay ≪ 2⁶³; both engines agree
  * on % for positive operands). Per round: a node joins
  * the MIS iff its priority is below every ACTIVE neighbor's (isolated
  * actives join unconditionally), MIS neighbors retire as 'removed', and
  * the active set shrinks — O(log n) expected rounds in the random
  * model; with fixed `rounds` any still-undecided node reports status
  * 'active' (decided_round -1), which is itself deterministic output.
  *
  * Distributed shape per round: two broadcast-sized joins of the active
  * frame onto the cached symmetric edge list + one min-agg on (node) —
  * integer comparisons only, the same Pregel-as-SQL round as PageRank /
  * label propagation but with monotone state (decided nodes never
  * reactivate), which is what lets the oracle unroll rounds as
  * MATERIALIZED CTEs without carrying anything but the active set.
  */
object LubyMis {

  private val Mod = 2147483647L // 2^31 - 1, prime

  private def priority(v: Column, r: Int): Column =
    (lit(48271L) * (v + 1L) + lit(16807L * r)) % Mod

  /** @param nodes (vec_id)
    * @param edges (u, v) — symmetric
    * @return (vec_id, status ∈ mis|removed|active, decided_round; -1 for active)
    */
  def mis(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"Luby MIS needs at least one round, got $rounds")
    // the tieless-priority precondition (see the class doc): ids whose
    // spread reaches the modulus could collide in p_r. One tiny agg over
    // the node frame — negligible next to the rounds it protects.
    // MAGNITUDE bound too (review finding, r15): 48271·(id+1) + 16807·r
    // must stay inside Long — at |id| ≥ ~1.9e14 it overflows, which
    // throws under ANSI mode and silently diverges from the oracle's
    // INT128 without it. The bound subtracts the worst-round addend
    // (a follow-up review computed that Long.MaxValue % 48271 leaves
    // only 46461 of headroom — less than 16807·6 — so the addend is NOT
    // absorbed by the division's slack). Snowflake-style 64-bit ids
    // need remapping BEFORE this operator; the guard says so loudly.
    val MaxAbsId = (Long.MaxValue - 16807L * rounds) / 48271L - 2L
    val mm = nodes.agg(min("vec_id"), max("vec_id"), count(lit(1))).head()
    val nNodes = mm.getLong(2)
    if (!mm.isNullAt(0)) {
      require(mm.getLong(1) - mm.getLong(0) < Mod,
        s"Luby MIS priorities need the node-id spread below $Mod " +
          s"(got [${mm.getLong(0)}, ${mm.getLong(1)}]); remap ids first")
      require(math.abs(mm.getLong(0)) <= MaxAbsId && math.abs(mm.getLong(1)) <= MaxAbsId,
        s"Luby MIS priorities overflow Long past |id| ≈ $MaxAbsId " +
          s"(got [${mm.getLong(0)}, ${mm.getLong(1)}]); remap ids first")
    }
    val e = edges.select(col("u"), col("v")).cache()
    // HYBRID dispatch (r18 — the ConnectedComponents/PageRankOp
    // precedent): a near-dup MIS graph is the similarity RELATION, not
    // the corpus — usually tiny, and the per-round dataflow (priority
    // projection + neighbor-min join + two anti/semi joins + two eager
    // checkpoints) is pure scheduling overhead there. At or below
    // `smallGraphThreshold` edges the loop runs on collected arrays
    // with the IDENTICAL integer priority arithmetic and round
    // semantics, so the output is bit-identical (LubyMisSpec holds on
    // both paths; the oracle unrolls the same rounds). Above it, the
    // distributed loop below is unchanged.
    val smallGraphThreshold = 1L << 20
    // BOTH |E| and |V| must clear the bar: the realistic
    // near-dup shape is a sparse relation over a corpus-scale node set —
    // few edges, millions of isolated nodes — and the fast path collects
    // the FULL node frame, so an edges-only gate would OOM the driver on
    // exactly the input the distributed loop handles safely.
    if (e.count() <= smallGraphThreshold && nNodes <= smallGraphThreshold) {
      val es = e.collect().map(r0 => (r0.getLong(0), r0.getLong(1)))
      val nodeIds = nodes.select(col("vec_id")).collect().map(_.getLong(0))
      val nbrs: Map[Long, Array[Long]] =
        es.groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2) }
      val active0 = scala.collection.mutable.HashSet.empty[Long]
      nodeIds.foreach(active0 += _)
      val decided0 = scala.collection.mutable.HashMap.empty[Long, (String, Int)]
      for (r <- 1 to rounds) {
        def p(v: Long): Long = (48271L * (v + 1L) + 16807L * r) % Mod
        // strict local minimum over ACTIVE neighbors (none ⇒ isolated
        // in the active graph ⇒ MIS) — exactly the misR predicate
        val misR = active0.iterator.filter { u =>
          var nm = Long.MaxValue
          var any = false
          nbrs.getOrElse(u, Array.empty[Long]).foreach { v =>
            if (active0.contains(v)) { any = true; val pv = p(v); if (pv < nm) nm = pv }
          }
          !any || p(u) < nm
        }.toArray
        misR.foreach(u => decided0(u) = ("mis", r))
        // still-active neighbors of the round's MIS retire (MIS nodes
        // are never adjacent — strict distinct priorities — so this
        // cannot overwrite a "mis" decision)
        misR.foreach { u =>
          nbrs.getOrElse(u, Array.empty[Long]).foreach { v =>
            if (active0.contains(v) && !decided0.contains(v)) decided0(v) = ("removed", r)
          }
        }
        decided0.keysIterator.foreach(active0 -= _)
      }
      e.unpersist()
      val spark = nodes.sparkSession
      import spark.implicits._
      return nodeIds.toSeq.map { v =>
        val (st, dr) = decided0.getOrElse(v, ("active", -1))
        (v, st, dr)
      }.toDF("vec_id", "status", "decided_round").orderBy("vec_id")
    }
    var active = nodes.select(col("vec_id")).cache()
    var decided: DataFrame = null
    for (r <- 1 to rounds) {
      val p = active.select(col("vec_id"), priority(col("vec_id"), r).as("p"))
      // min active-neighbor priority per active node
      val nbMin = e
        .join(p.select(col("vec_id").as("u")), "u")
        .join(p.select(col("vec_id").as("v"), col("p").as("pv")), "v")
        .groupBy("u").agg(min("pv").as("nm"))
        .withColumnRenamed("u", "vec_id")
      val misR = p.join(nbMin, Seq("vec_id"), "left")
        .filter(col("nm").isNull || col("p") < col("nm"))
        .select(col("vec_id"))
      val remR = e.join(misR.select(col("vec_id").as("u")), "u")
        .select(col("v").as("vec_id")).distinct()
        .join(active, "vec_id") // only still-active neighbors retire
        .select(col("vec_id"))
      // localCheckpoint (eager) truncates the round's lineage: the next
      // round plans against materialized partitions instead of a growing
      // join chain (the AQE-cached-exchange reuse across rounds otherwise
      // mis-zips partitions), and decided nodes never recompute
      val decR = misR.select(col("vec_id"), lit("mis").as("status"), lit(r).as("decided_round"))
        .unionByName(remR.select(col("vec_id"), lit("removed").as("status"), lit(r).as("decided_round")))
        .localCheckpoint(true)
      decided = if (decided == null) decR else decided.unionByName(decR)
      val nextActive = active.join(decR.select("vec_id"), Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      active.unpersist()
      active = nextActive
    }
    val out = nodes.select(col("vec_id"))
      .join(decided, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("status"), lit("active")).as("status"),
        coalesce(col("decided_round"), lit(-1)).as("decided_round"))
      .orderBy("vec_id")
      .cache()
    out.count()
    active.unpersist()
    e.unpersist()
    out
  }

  /** DuckDB twin over the q52/q133 near-dup graph (sample vec_id % 5 = 0,
    * rounded cosine > 0.25): the same `rounds` local-min rounds unrolled
    * as MATERIALIZED CTEs.
    */
  def oracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      val prev = s"act${r - 1}"
      s"""p$r AS (SELECT vec_id, (48271*(vec_id+1) + ${16807L * r}) % 2147483647 AS p FROM $prev),
      nm$r AS (SELECT e.u AS vec_id, min(pv.p) AS nm
        FROM edges e
        JOIN p$r pu ON pu.vec_id = e.u
        JOIN p$r pv ON pv.vec_id = e.v
        GROUP BY e.u),
      mis$r AS MATERIALIZED (SELECT p.vec_id FROM p$r p LEFT JOIN nm$r n ON n.vec_id = p.vec_id
        WHERE n.nm IS NULL OR p.p < n.nm),
      rem$r AS MATERIALIZED (SELECT DISTINCT e.v AS vec_id
        FROM edges e JOIN mis$r m ON m.vec_id = e.u JOIN $prev a ON a.vec_id = e.v),
      act$r AS MATERIALIZED (SELECT vec_id FROM $prev
        WHERE vec_id NOT IN (SELECT vec_id FROM mis$r)
          AND vec_id NOT IN (SELECT vec_id FROM rem$r))"""
    }.mkString(",\n      ")
    val statusUnion = (1 to rounds).map(r =>
      s"""SELECT vec_id, 'mis' AS status, $r AS decided_round FROM mis$r
        UNION ALL SELECT vec_id, 'removed', $r FROM rem$r""").mkString("\n        UNION ALL ")
    s"""WITH ${NearDupGraph.oracleCtes()},
      act0 AS MATERIALIZED (SELECT vec_id FROM d),
      $rs,
      dec AS ($statusUnion)
      SELECT n.vec_id,
        coalesce(dc.status, 'active') AS status,
        CAST(coalesce(dc.decided_round, -1) AS INTEGER) AS decided_round
      FROM act0 n LEFT JOIN dec dc ON dc.vec_id = n.vec_id
      ORDER BY n.vec_id"""
  }
}
