package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Lakehouse table-maintenance operators: the jobs that keep a 100 TB
  * table healthy rather than answer questions about it. Compaction
  * planning (the small-files problem) and incremental aggregate-rollup
  * maintenance (apply a delta batch to a materialized summary without a
  * full rebuild) — complements the SCD-2 merge (q116/q136), snapshot
  * diff (q159) and Merkle digests (q164) already in the family.
  */
object TableMaintenance {

  private def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** Compaction plan by streaming next-fit: files (synthesized
    * deterministically from the orders table — no real file listing
    * ships with the fixtures) are walked in id order, and a file opens
    * a new compaction group when the running total crosses the target.
    * bin = cum_bytes_before / target in integer division, so the plan
    * is one window cumsum + one agg — no driver loop, no sort beyond
    * the |files| frame (a file listing is ~10⁶ rows at 100 TB: the
    * window runs on the LISTING, never the data; same argument as the
    * STL/series frames).
    *
    * Next-fit (not first-fit-decreasing) on purpose: it preserves file
    * order, so compacted groups stay range-contiguous — what you want
    * when the table is sorted/z-ordered (q125) and stats-pruned.
    */
  def compactionPlan(orders: DataFrame, nFiles: Int, targetBytes: Long): DataFrame = {
    val files = orders
      .groupBy((col("o_orderkey") % nFiles).as("file_id"))
      .agg(sum(cents(col("o_totalprice"))).as("size_bytes"))
    val w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum("size_bytes").over(w), lit(0L)))
      .withColumn("bin", (col("cum_before") / lit(targetBytes)).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"),
        sum("size_bytes").as("total_bytes"),
        min("file_id").as("first_file"),
        max("file_id").as("last_file"))
      .withColumn("fill_ratio",
        Metrics.canonRound(col("total_bytes").cast("double") / lit(targetBytes.toDouble), 6))
      .orderBy("bin")
  }

  val q178 = GQuery(
    "q178_compaction_plan",
    (s, dir) => compactionPlan(Tables.orders(s, dir), nFiles = 400, targetBytes = 40_000_000L),
    Some("""WITH files AS (
        SELECT o_orderkey % 400 AS file_id,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS size_bytes
        FROM orders GROUP BY 1),
      binned AS (
        SELECT file_id, size_bytes,
          coalesce(sum(size_bytes) OVER (ORDER BY file_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM files)
      SELECT CAST(cum_before // 40000000 AS BIGINT) AS bin,
        count(*) AS n_files,
        CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
        min(file_id) AS first_file,
        max(file_id) AS last_file,
        floor(CAST(sum(size_bytes) AS DOUBLE)/40000000.0*1e6 + 0.5)/1e6 AS fill_ratio
      FROM binned GROUP BY 1 ORDER BY bin"""))

  /** Incremental maintenance of a materialized per-customer rollup: the
    * delta batch (orders with o_orderkey % 10 = 0, standing in for "the
    * new files since the last refresh") merges into the existing
    * summary as partial aggregates — count and sum are mergeable, so
    * the refresh touches only the delta's keys, never the base scan.
    * Output is the refresh CHANGELOG (insert/update rows with their new
    * totals); OpsSpec pins merged ≡ full rebuild, the invariant that
    * makes incremental refresh trustworthy (q136's discipline applied
    * to aggregates).
    *
    * Scale: base rollup and delta partials are both (custkey) hash
    * aggs; the merge is one equi join on the DELTA's key set — at
    * 100 TB the delta is days, the base is years, and this never
    * rescans the years.
    */
  def incrementalRollup(orders: DataFrame): DataFrame = {
    val base = orders.filter(col("o_orderkey") % 10 =!= 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_old"), sum(cents(col("o_totalprice"))).as("rev_old"))
    val delta = orders.filter(col("o_orderkey") % 10 === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_delta"), sum(cents(col("o_totalprice"))).as("rev_delta"))
    delta.join(base, Seq("o_custkey"), "left")
      .select(col("o_custkey"),
        when(col("n_old").isNull, lit("insert")).otherwise(lit("update")).as("action"),
        (coalesce(col("n_old"), lit(0L)) + col("n_delta")).as("n_orders"),
        (coalesce(col("rev_old"), lit(0L)) + col("rev_delta")).as("rev_cents"))
      .orderBy("o_custkey")
  }

  val q179 = GQuery(
    "q179_incremental_rollup",
    (s, dir) => incrementalRollup(Tables.orders(s, dir)),
    Some("""WITH base AS (
        SELECT o_custkey, count(*) AS n_old,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_old
        FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY o_custkey),
      delta AS (
        SELECT o_custkey, count(*) AS n_delta,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS rev_delta
        FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_custkey)
      SELECT d.o_custkey,
        CASE WHEN b.n_old IS NULL THEN 'insert' ELSE 'update' END AS action,
        CAST(coalesce(b.n_old, 0) + d.n_delta AS BIGINT) AS n_orders,
        CAST(coalesce(b.rev_old, 0) + d.rev_delta AS BIGINT) AS rev_cents
      FROM delta d LEFT JOIN base b ON b.o_custkey = d.o_custkey
      ORDER BY d.o_custkey"""))

  /** Zone-map data skipping — the query-planning half of the file-layout
    * story (q178 plans the files; this plans the READS): per-file
    * min/max statistics ("zone maps", the parquet row-group / Delta
    * file-stats idea) plus, for one concrete conjunctive predicate,
    * the skip decision AND the actual matching-row count per file — so
    * the output itself witnesses soundness (a skippable file must show
    * n_match = 0; OpsSpec asserts it, and the oracle recomputes both
    * sides). Files model a time-partitioned landing table (one file per
    * order month), which is why the date dimension skips hard while the
    * price dimension's zones all straddle the threshold — exactly the
    * asymmetry real zone maps show between clustered and unclustered
    * columns.
    *
    * Scale: the stats table is one (file) agg over the scan; the
    * decision is a per-file expression on |files| rows. At 100 TB this
    * table IS what the scan planner consults — the demo keeps the
    * matching-count join only as its built-in proof.
    */
  def zoneMapSkipping(orders: DataFrame, loDate: String, hiDate: String,
                      minPrice: Long): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val f = orders.select(
      (year(d) * 12 + month(d) - 1).cast("long").as("file_id"),
      d.as("d"), cents(col("o_totalprice")).as("price_c"))
    val zones = f.groupBy("file_id").agg(
      count(lit(1)).as("n_rows"),
      min("d").as("min_date"), max("d").as("max_date"),
      min("price_c").as("min_price_c"), max("price_c").as("max_price_c"))
    val matches = f
      .filter(col("d") >= lit(loDate) && col("d") < lit(hiDate)
        && col("price_c") >= minPrice)
      .groupBy("file_id").agg(count(lit(1)).as("n_match"))
    val skip = (col("max_date") < lit(loDate)) || (col("min_date") >= lit(hiDate)) ||
      (col("max_price_c") < minPrice)
    zones.join(matches, Seq("file_id"), "left")
      .select(col("file_id"), col("n_rows"),
        col("min_date").cast("timestamp_ntz").as("min_date"),
        col("max_date").cast("timestamp_ntz").as("max_date"),
        col("min_price_c"), col("max_price_c"),
        skip.cast("int").as("skippable"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .orderBy("file_id")
  }

  val q180 = GQuery(
    "q180_zone_map_skipping",
    (s, dir) => zoneMapSkipping(Tables.orders(s, dir),
      loDate = "1996-03-01", hiDate = "1996-09-01", minPrice = 1_000_000L),
    Some("""WITH f AS (
        SELECT CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT) AS file_id,
          CAST(o_orderdate AS DATE) AS d,
          CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c
        FROM orders),
      zones AS (
        SELECT file_id, count(*) AS n_rows,
          min(d) AS min_date, max(d) AS max_date,
          min(price_c) AS min_price_c, max(price_c) AS max_price_c
        FROM f GROUP BY file_id),
      m AS (
        SELECT file_id, count(*) AS n_match FROM f
        WHERE d >= DATE '1996-03-01' AND d < DATE '1996-09-01'
          AND price_c >= 1000000
        GROUP BY file_id)
      SELECT z.file_id, z.n_rows,
        CAST(z.min_date AS TIMESTAMP) AS min_date,
        CAST(z.max_date AS TIMESTAMP) AS max_date,
        z.min_price_c, z.max_price_c,
        CAST(CASE WHEN z.max_date < DATE '1996-03-01'
                    OR z.min_date >= DATE '1996-09-01'
                    OR z.max_price_c < 1000000 THEN 1 ELSE 0 END AS INTEGER) AS skippable,
        coalesce(m.n_match, 0) AS n_match
      FROM zones z LEFT JOIN m ON m.file_id = z.file_id
      ORDER BY z.file_id"""))

  /** Streaming twin of q179 (streaming.RollupStreams): the delta feed
    * streams through one stateful (key → partials) aggregation and the
    * base merge is the batch finisher. Reuses q179's oracle VERBATIM —
    * count/sum partials are order-independent, so any micro-batching
    * must land on the identical changelog.
    */
  val q181 = GQuery(
    "q181_stream_rollup",
    (s, dir) => {
      // TempDirs, not deleteOnExit: deleteOnExit silently skips non-empty
      // dirs and this one always holds the symlink (review finding, r14)
      val stage = graft.streaming.TempDirs.create("graft_rollup_q181_")
      java.nio.file.Files.createSymbolicLink(
        stage.resolve("orders.parquet"),
        java.nio.file.Paths.get(s"$dir/orders.parquet").toAbsolutePath)
      val schema = s.read.parquet(s"$dir/orders.parquet").schema
      graft.streaming.RollupStreams.streamingRollup(
        s, stage.toString, schema, dir, queryName = "stream_rollup_q181")
    },
    q179.oracle)

  /** Join-cardinality estimation by key-UNIVERSE sampling — the AQP
    * planner primitive (Quickr / BlinkDB lineage, public literature):
    * uniform ROW sampling breaks under joins (P[both rows survive] =
    * p², and matching pairs are lost non-uniformly), so both sides keep
    * the SAME deterministic subset of the key universe (md5 bucket <
    * p%) and every surviving key contributes its full pair product —
    * the estimate is sampled_pairs × 100/p, unbiased over the key draw.
    * Deterministic by the repo's md5 scheme (15-hex-char half → BIGINT,
    * invariant 10), so the oracle replays sample, estimate, and error.
    *
    * Scale: the bucket predicate pushes to both scans (a hash of the
    * join key — computable at the reader), the sampled join touches
    * ~p% of each side, and the exact join here exists only as the
    * demo's error witness. At 100 TB you run ONLY the sampled side to
    * size a join before committing to it.
    */
  def joinCardinalityEstimate(lineitem: DataFrame, orders: DataFrame,
                              pPct: Int): DataFrame = {
    require(100 % pPct == 0, s"pPct must divide 100, got $pPct")
    def bucket(k: Column): Column =
      conv(substring(md5(k.cast("string")), 1, 15), 16, 10).cast("long") % 100
    val l = lineitem.select(col("l_orderkey").as("k"))
    val o = orders.select(col("o_orderkey").as("k"))
    val exact = l.join(o, "k").agg(count(lit(1)).as("exact_pairs"))
    val sampled = l.filter(bucket(col("k")) < pPct)
      .join(o.filter(bucket(col("k")) < pPct), "k")
      .agg(count(lit(1)).as("sampled_pairs"))
    exact.crossJoin(sampled)
      .select(col("exact_pairs"), col("sampled_pairs"),
        (col("sampled_pairs") * (100L / pPct)).as("est_pairs"))
      .withColumn("rel_err", Metrics.canonRound(
        abs(col("est_pairs") - col("exact_pairs")).cast("double") /
          col("exact_pairs").cast("double"), 6))
  }

  val q182 = GQuery(
    "q182_join_cardinality_est",
    (s, dir) => joinCardinalityEstimate(
      Tables.lineitem(s, dir), Tables.orders(s, dir), pPct = 5),
    Some("""WITH l AS (SELECT l_orderkey AS k FROM lineitem),
      o AS (SELECT o_orderkey AS k FROM orders),
      lb AS (SELECT k FROM l
        WHERE CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5),
      ob AS (SELECT k FROM o
        WHERE CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 5),
      e AS (SELECT count(*) AS exact_pairs FROM l JOIN o USING (k)),
      sm AS (SELECT count(*) AS sampled_pairs FROM lb JOIN ob USING (k))
      SELECT e.exact_pairs, sm.sampled_pairs,
        sm.sampled_pairs * 20 AS est_pairs,
        floor(CAST(abs(sm.sampled_pairs * 20 - e.exact_pairs) AS DOUBLE)
          / CAST(e.exact_pairs AS DOUBLE) * 1e6 + 0.5)/1e6 AS rel_err
      FROM e CROSS JOIN sm"""))

  /** Delete-one-block jackknife confidence interval — the error bar
    * that makes distributed estimates (and q182's AQP answers)
    * reportable: rows hash into g=32 md5 buckets, each leave-one-out
    * mean θ₍ⱼ₎ = (S−Sⱼ)/(n−nⱼ) comes from exact integer cent sums (one
    * IEEE division — engine-identical), and the jackknife variance
    * (g−1)/g · Σ(θ₍ⱼ₎−θ̄)² runs its deviation sum through the decimal
    * exactSum path so block order can't leak in. Block jackknife is
    * the standard variance estimator when only aggregates ship
    * (Efron/Tukey; one pass + a 32-row reduction — at 100 TB the
    * buckets are partial aggregates, exactly like q179's partials).
    */
  def jackknifeCi(orders: DataFrame, g: Int): DataFrame = {
    val bucket =
      conv(substring(md5(col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("long") % g
    val blocks = orders
      .groupBy(bucket.as("b"))
      .agg(count(lit(1)).as("n_j"), sum(cents(col("o_totalprice"))).as("s_j"))
    val tot = blocks.agg(sum("n_j").as("n"), sum("s_j").as("s"))
    // leave-one-out means in DOLLARS: exact integer cents → one division
    val loo = blocks.crossJoin(broadcast(tot))
      .select(Metrics.canonRound(
        (col("s") - col("s_j")).cast("double") /
          ((col("n") - col("n_j")).cast("double") * 100.0), 4).as("theta_j"))
    val jbar = loo.agg(Metrics.canonRound(Metrics.exactMean(col("theta_j")), 6).as("theta_bar"))
    val varJack = loo.crossJoin(broadcast(jbar))
      .select(Metrics.canonRound(
        (col("theta_j") - col("theta_bar")) * (col("theta_j") - col("theta_bar")), 4).as("dev2"))
      .agg((Metrics.exactSum(col("dev2")) * lit((g - 1).toDouble / g)).as("var_jack"))
    tot.crossJoin(broadcast(varJack))
      .select(col("n").as("n_rows"),
        Metrics.canonRound(col("s").cast("double") / (col("n").cast("double") * 100.0), 4).as("mean_price"),
        Metrics.canonRound(sqrt(col("var_jack")), 6).as("se_jack"))
      .withColumn("ci_lo", Metrics.canonRound(col("mean_price") - lit(1.96) * col("se_jack"), 4))
      .withColumn("ci_hi", Metrics.canonRound(col("mean_price") + lit(1.96) * col("se_jack"), 4))
  }

  val q183 = GQuery(
    "q183_jackknife_ci",
    (s, dir) => jackknifeCi(Tables.orders(s, dir), g = 32),
    Some("""WITH blocks AS (
        SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS b,
          count(*) AS n_j,
          sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS s_j
        FROM orders GROUP BY 1),
      tot AS (SELECT sum(n_j) AS n, sum(s_j) AS s FROM blocks),
      loo AS (
        SELECT floor(CAST(t.s - b.s_j AS DOUBLE)
          / (CAST(t.n - b.n_j AS DOUBLE) * 100.0) * 1e4 + 0.5)/1e4 AS theta_j
        FROM blocks b CROSS JOIN tot t),
      jbar AS (
        SELECT floor((CAST(sum(CAST(floor(theta_j*1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)
          / count(*)) * 1e6 + 0.5)/1e6 AS theta_bar
        FROM loo),
      dev AS (
        SELECT floor((l.theta_j - j.theta_bar)*(l.theta_j - j.theta_bar)*1e4 + 0.5)/1e4 AS dev2
        FROM loo l CROSS JOIN jbar j),
      vj AS (
        SELECT CAST(sum(CAST(floor(dev2*1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)
          * (31.0/32.0) AS var_jack
        FROM dev)
      SELECT CAST(t.n AS BIGINT) AS n_rows,
        floor(CAST(t.s AS DOUBLE)/(CAST(t.n AS DOUBLE)*100.0)*1e4 + 0.5)/1e4 AS mean_price,
        floor(sqrt(v.var_jack)*1e6 + 0.5)/1e6 AS se_jack,
        floor((floor(CAST(t.s AS DOUBLE)/(CAST(t.n AS DOUBLE)*100.0)*1e4 + 0.5)/1e4
          - 1.96*floor(sqrt(v.var_jack)*1e6 + 0.5)/1e6)*1e4 + 0.5)/1e4 AS ci_lo,
        floor((floor(CAST(t.s AS DOUBLE)/(CAST(t.n AS DOUBLE)*100.0)*1e4 + 0.5)/1e4
          + 1.96*floor(sqrt(v.var_jack)*1e6 + 0.5)/1e6)*1e4 + 0.5)/1e4 AS ci_hi
      FROM tot t CROSS JOIN vj v"""))

  /** Poisson(1) CDF thresholds in md5-15-hex space ([0, 2⁶⁰)): a row's
    * replicate weight is k iff its hash lands in [T_{k−1}, T_k) — the
    * INTEGER comparisons are what make the "random" resample a pure
    * function of (key, replicate) and so bit-identical cross-engine.
    * Tail mass beyond weight 7 (≈1e-5) folds into the last bucket: a
    * truncation both engines share, not a bias either can see alone.
    */
  private val poissonThresholds: Seq[Long] = Seq(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L)

  /** One-pass deterministic Poisson-bootstrap confidence interval for the
    * mean — the resampling-family sequel to q183's block jackknife. Per
    * replicate r, every row draws an independent-looking Poisson(1)
    * weight from md5(key:r) (Chamandy et al., "Estimating uncertainty for
    * massive data streams", Google TR 2012 — the bootstrap that works
    * when data is seen once), and all `reps` replicate (Σw, Σw·cents)
    * pairs are computed as ONE wide aggregation — a single scan with
    * map-side partial aggs, no R× data blowup, no second pass; the
    * replicate frame that leaves the scan is `reps` rows of two longs.
    * SE is the replicate means' sample stddev (decimal-exact dev² sum),
    * the CI the 2nd/(R−1)th order statistics (≈2.5/97.5 percentile at
    * R=40) — rank ties broken by replicate id.
    */
  def bootstrapCi(orders: DataFrame, reps: Int): DataFrame = {
    require(reps >= 4, s"need at least 4 replicates for the percentile CI, got $reps")
    // ONE md5 per row; per-replicate hashes come from the repo's
    // Kirsch-Mitzenmacher md5 scheme (invariant 10): h_r = (h1 XOR r·h2)
    // masked back into the 60-bit space. h2 is truncated to 55 bits so
    // r·h2 cannot overflow BIGINT at r≤39 (DuckDB errors on overflow),
    // and the % 2⁶⁰ drops the multiply's carry bit — bits 0..59 are h1's
    // uniform bits XOR an independent value, so h_r stays exactly uniform
    // on [0, 2⁶⁰) and the Poisson thresholds apply unchanged. Naively
    // hashing md5(key:r) per replicate cost 40 md5/row (and 8× that
    // again when the when-chain duplicated the subtree): 12s at sf0.1
    // vs 1.3s this way.
    val hashed = orders
      .select(cents(col("o_totalprice")).as("c"),
        md5(col("o_orderkey").cast("string")).as("md"))
      .select(col("c"),
        conv(substring(col("md"), 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring(col("md"), 17, 15), 16, 10).cast("long")
          % lit(36028797018963968L)).as("h2"))
    def weight(r: Int): Column = {
      val hr = (col("h1").bitwiseXOR(col("h2") * lit(r.toLong))) %
        lit(1152921504606846976L)
      poissonThresholds.zipWithIndex.foldRight(lit(7): Column) {
        case ((t, k), els) => when(hr < t, lit(k)).otherwise(els)
      }.cast("long")
    }
    val aggs = (0 until reps).flatMap { r =>
      val wr = weight(r)
      Seq(sum(wr).as(s"n_$r"), sum(wr * col("c")).as(s"s_$r"))
    }
    val wide = hashed.agg(aggs.head, aggs.tail: _*)
    val means = wide.select(explode(array((0 until reps).map(r =>
        struct(lit(r).as("r"), col(s"n_$r").as("n_r"), col(s"s_$r").as("s_r"))): _*)).as("x"))
      .select(col("x.r").as("r"),
        Metrics.canonRound(col("x.s_r").cast("double") /
          (col("x.n_r").cast("double") * 100.0), 4).as("mean_r"))
      .cache()
    val mbar = means.agg(
      Metrics.canonRound(Metrics.exactMean(col("mean_r")), 6).as("mean_boot"))
    // the replicate statistics are bounded model state (reps rows):
    // materialize the three scalars eagerly, then DROP the cache — the
    // previous lazy form leaked the `means` cache entry on every call in
    // a long-lived session
    val seBoot = means.crossJoin(broadcast(mbar))
      .select(Metrics.canonRound(
        (col("mean_r") - col("mean_boot")) * (col("mean_r") - col("mean_boot")), 4).as("dev2"))
      .agg(Metrics.canonRound(
        sqrt(Metrics.exactSum(col("dev2")) / lit((reps - 1).toDouble)), 6).as("se_boot"))
      .collect().head.getDouble(0)
    val ranked = means.withColumn("rk",
      row_number().over(Window.orderBy(col("mean_r"), col("r"))))
    val bounds = ranked.filter(col("rk") === 2 || col("rk") === reps - 1)
      .orderBy("rk").select("mean_r").collect().map(_.getDouble(0))
    means.unpersist()
    val tot = orders.agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("s"))
    tot.select(col("n").as("n_rows"),
        Metrics.canonRound(col("s").cast("double") /
          (col("n").cast("double") * 100.0), 4).as("mean_price"),
        lit(seBoot).as("se_boot"), lit(bounds(0)).as("ci_lo"), lit(bounds(1)).as("ci_hi"))
  }

  /** DuckDB twin of [[bootstrapCi]]: the same wide one-pass aggregation
    * (materialized once, referenced per replicate), same snapped decimal
    * reductions as q183's oracle. */
  def bootstrapCiOracle(reps: Int): String = {
    def w(r: Int) = {
      val hr = s"(xor(h1, h2 * $r) % 1152921504606846976)"
      val cases = poissonThresholds.zipWithIndex
        .map { case (t, k) => s"WHEN $hr < $t THEN $k" }.mkString(" ")
      s"(CASE $cases ELSE 7 END)"
    }
    val aggCols = (0 until reps).map(r =>
      s"sum(${w(r)}) AS n_$r, sum(${w(r)} * c) AS s_$r").mkString(",\n        ")
    val repRows = (0 until reps).map(r =>
      s"SELECT $r AS r, n_$r AS n_r, s_$r AS s_r FROM agg").mkString("\n        UNION ALL ")
    s"""WITH o AS MATERIALIZED (
        SELECT CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS c,
          CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 17, 15)) AS BIGINT)
            % 36028797018963968 AS h2
        FROM orders),
      agg AS MATERIALIZED (SELECT
        $aggCols
        FROM o),
      reps AS ($repRows),
      means AS MATERIALIZED (
        SELECT r, floor(CAST(s_r AS DOUBLE)/(CAST(n_r AS DOUBLE)*100.0)*1e4 + 0.5)/1e4 AS mean_r
        FROM reps),
      mbar AS (
        SELECT floor((CAST(sum(CAST(floor(mean_r*1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)
          / count(*)) * 1e6 + 0.5)/1e6 AS mean_boot
        FROM means),
      se AS (
        SELECT floor(sqrt(CAST(sum(CAST(floor(dev2*1e4 + 0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)
          / ${(reps - 1).toDouble}) * 1e6 + 0.5)/1e6 AS se_boot
        FROM (SELECT floor((m.mean_r - b.mean_boot)*(m.mean_r - b.mean_boot)*1e4 + 0.5)/1e4 AS dev2
              FROM means m CROSS JOIN mbar b)),
      rkd AS (SELECT mean_r, row_number() OVER (ORDER BY mean_r, r) AS rk FROM means),
      lo AS (SELECT mean_r AS ci_lo FROM rkd WHERE rk = 2),
      hi AS (SELECT mean_r AS ci_hi FROM rkd WHERE rk = ${reps - 1}),
      tot AS (SELECT count(*) AS n, sum(c) AS s FROM o)
      SELECT CAST(t.n AS BIGINT) AS n_rows,
        floor(CAST(t.s AS DOUBLE)/(CAST(t.n AS DOUBLE)*100.0)*1e4 + 0.5)/1e4 AS mean_price,
        se.se_boot, lo.ci_lo, hi.ci_hi
      FROM tot t CROSS JOIN se CROSS JOIN lo CROSS JOIN hi"""
  }

  val q184 = GQuery(
    "q184_bootstrap_ci",
    (s, dir) => bootstrapCi(Tables.orders(s, dir), reps = 40),
    Some(bootstrapCiOracle(reps = 40)))

  /** Error-bounded GROUP BY sampling — the per-group face of the AQP
    * family (q182 estimates a join size, q183/q184 put error bars on one
    * global mean; this puts a CLT error bar on EVERY group's mean from
    * one deterministic sample). A single scan computes, per group, both
    * the 10% md5-sample moments (Σw, Σw·c, Σw·c² — the c² sum in
    * DECIMAL(38,0): cents² at 1e14 would overflow a 64-bit sum at real
    * row counts) and the exact audit columns. The estimate ships with
    * its half-width hw = 1.96·s/√m and a met_target flag against a 1%
    * relative-error contract — the decision a production AQP layer
    * makes BEFORE running the exact query; here the exact mean rides
    * along so the oracle also audits coverage. At 100 TB only the
    * sampled moments survive the scan (6 groups × 3 numbers), and the
    * sample membership is a pure row-key function — no coordinated
    * sampling state, stable under reruns and repartitioning (q88's
    * argument, upgraded with a guarantee).
    */
  def groupSampleCi(lineitem: DataFrame, pPct: Int, targetRel: Double): DataFrame = {
    val h = conv(substring(md5(concat(col("l_orderkey").cast("string"), lit("_"),
      col("l_linenumber").cast("string"))), 1, 15), 16, 10).cast("long") % 100
    val c = cents(col("l_extendedprice"))
    val inS = when(h < pPct, lit(1L)).otherwise(lit(0L))
    val agg = lineitem.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("m_true"), sum(c).as("s_true"),
        sum(inS).as("m"), sum(inS * c).as("sc"),
        sum((inS * c * c).cast("decimal(38,0)")).as("sc2"))
    val meanEst = Metrics.canonRound(
      col("sc").cast("double") / (col("m").cast("double") * 100.0), 4)
    val meanTrue = Metrics.canonRound(
      col("s_true").cast("double") / (col("m_true").cast("double") * 100.0), 4)
    val varC = (col("sc2").cast("double") -
      col("sc").cast("double") * col("sc").cast("double") / col("m").cast("double")) /
      (col("m") - 1).cast("double")
    val hw = Metrics.canonRound(
      lit(1.96) * sqrt(varC) / (lit(100.0) * sqrt(col("m").cast("double"))), 4)
    // degenerate-sample guard: the CLT half-width needs
    // m >= 2 (the (m-1) divisor) and the estimate m >= 1. Rather than
    // emitting nulls that read as "passed", a too-small sample gets an
    // explicit null hw/rel_hw with met_target = covered = 0 — the
    // operator is generic over pPct and grouping, so a 0.1% sample of a
    // tiny group must fail loudly in the report.
    val mOk = col("m") >= 2
    agg
      .withColumn("mean_est", when(col("m") >= 1, meanEst).otherwise(lit(null).cast("double")))
      .withColumn("mean_true", meanTrue)
      .withColumn("hw", when(mOk, hw).otherwise(lit(null).cast("double")))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("m").as("m_sample"), col("mean_est"), col("hw"),
        when(mOk, Metrics.canonRound(col("hw") / col("mean_est"), 6)).as("rel_hw"),
        when(mOk, (Metrics.canonRound(col("hw") / col("mean_est"), 6) <= lit(targetRel))
          .cast("int")).otherwise(lit(0)).as("met_target"),
        col("mean_true"),
        when(col("m") >= 1,
          Metrics.canonRound(abs(col("mean_est") - col("mean_true")) / col("mean_true"), 6))
          .as("rel_err"),
        when(mOk, (col("mean_true") >= col("mean_est") - col("hw") &&
          col("mean_true") <= col("mean_est") + col("hw")).cast("int"))
          .otherwise(lit(0)).as("covered"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q185 = GQuery(
    "q185_group_sample_ci",
    (s, dir) => groupSampleCi(Tables.lineitem(s, dir), pPct = 10, targetRel = 0.01),
    Some("""WITH l AS (
        SELECT l_returnflag, l_linestatus,
          CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS c,
          CASE WHEN CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
            CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10
            THEN 1 ELSE 0 END AS w
        FROM lineitem),
      agg AS (
        SELECT l_returnflag, l_linestatus,
          count(*) AS m_true, sum(c) AS s_true,
          sum(w) AS m, sum(w*c) AS sc,
          sum(CAST(w*c*c AS DECIMAL(38,0))) AS sc2
        FROM l GROUP BY 1, 2),
      stats AS (
        -- m < 1 / m < 2 guards MIRROR the engine's degenerate-sample
        -- policy (review finding, r15: unguarded, a 1-row sample read
        -- NULL on the Spark side and 0/0 = NaN here — a latent
        -- divergence the pinned q185 params never exercise)
        SELECT l_returnflag, l_linestatus, m,
          CASE WHEN m >= 1 THEN
            floor(CAST(sc AS DOUBLE)/(CAST(m AS DOUBLE)*100.0)*1e4 + 0.5)/1e4 END AS mean_est,
          floor(CAST(s_true AS DOUBLE)/(CAST(m_true AS DOUBLE)*100.0)*1e4 + 0.5)/1e4 AS mean_true,
          CASE WHEN m >= 2 THEN
            floor(1.96 * sqrt((CAST(sc2 AS DOUBLE)
                - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)/CAST(m AS DOUBLE))
                / CAST(m - 1 AS DOUBLE))
              / (100.0 * sqrt(CAST(m AS DOUBLE))) * 1e4 + 0.5)/1e4 END AS hw
        FROM agg)
      SELECT l_returnflag, l_linestatus,
        CAST(m AS BIGINT) AS m_sample, mean_est, hw,
        CASE WHEN m >= 2 THEN floor(hw/mean_est*1e6 + 0.5)/1e6 END AS rel_hw,
        CAST(CASE WHEN m >= 2 AND floor(hw/mean_est*1e6 + 0.5)/1e6 <= 0.01
          THEN 1 ELSE 0 END AS INTEGER) AS met_target,
        mean_true,
        CASE WHEN m >= 1 THEN
          floor(abs(mean_est - mean_true)/mean_true*1e6 + 0.5)/1e6 END AS rel_err,
        CAST(CASE WHEN m >= 2 AND mean_true >= mean_est - hw AND mean_true <= mean_est + hw
          THEN 1 ELSE 0 END AS INTEGER) AS covered
      FROM stats
      ORDER BY l_returnflag, l_linestatus"""))

  /** Right-to-be-forgotten deletion propagation + compliance audit — the
    * GDPR/CCPA job every lakehouse runs between ingestion and export:
    * given a deletion-request set, drop the requested keys from EVERY
    * table that carries them (here the documents corpus and its
    * key-aligned embeddings), then AUDIT the post-delete state with an
    * independent scan — surviving row counts, a must-be-zero orphan
    * count (any survivor still matching a request), and an
    * order-independent XOR digest of the survivor key hashes that a
    * downstream consumer can verify without re-reading the requests.
    *
    * Scale shape: the request set is small relative to the corpus
    * (regulatory request volumes are ~thousands against billions of
    * rows), so both the delete (left_anti) and the audit (left join +
    * one aggregate) broadcast it — two map-side passes per table, no
    * shuffle of table data. The digest is bit_xor over a 60-bit md5 key
    * hash: commutative/associative, so it aggregates map-side in any
    * partition order and never needs a global sort (unlike the ordered
    * string_agg digests, which q120 confines to per-shard sequences).
    * The before-count scan stands in for what table stats provide for
    * free in production.
    */
  def deletionAudit(docs: DataFrame, embs: DataFrame): DataFrame = {
    val del = docs.filter(col("doc_id") % 37 === 3).select(col("doc_id").as("k"))
    def keyHash(k: Column): Column =
      conv(substring(md5(k.cast("string")), 1, 15), 16, 10).cast("long")
    def audit(name: String, keyed: DataFrame): DataFrame = {
      // the DELETE: survivors materialize via broadcast anti join
      val surv = keyed.join(broadcast(del), Seq("k"), "left_anti")
      // the AUDIT: an independent pass over the post-delete state — a
      // compliance check must not trust the deleting job's own claim
      val survAudit = surv
        .join(broadcast(del.withColumn("__del", lit(1))), Seq("k"), "left")
        .agg(count(lit(1)).as("rows_after"),
          count(col("__del")).as("n_orphans"),
          coalesce(call_function("bit_xor", keyHash(col("k"))), lit(0L))
            .as("survivor_xor"))
      keyed.agg(count(lit(1)).as("rows_before"))
        .crossJoin(survAudit) // two single-row aggregates
        .select(lit(name).as("tbl"), col("rows_before"),
          (col("rows_before") - col("rows_after")).as("n_deleted"),
          col("rows_after"), col("n_orphans"), col("survivor_xor"))
    }
    audit("documents", docs.select(col("doc_id").as("k")))
      .unionByName(audit("embeddings", embs.select(col("vec_id").as("k"))))
      .orderBy("tbl")
  }

  val q210 = GQuery(
    "q210_deletion_audit",
    (s, dir) => deletionAudit(Tables.documents(s, dir), Tables.embeddings(s, dir)),
    Some("""WITH del AS (SELECT doc_id AS k FROM documents WHERE doc_id % 37 = 3),
      t AS (
        SELECT 'documents' AS tbl, doc_id AS k FROM documents
        UNION ALL
        SELECT 'embeddings' AS tbl, vec_id AS k FROM embeddings),
      surv AS (SELECT tbl, k FROM t WHERE k NOT IN (SELECT k FROM del)),
      b AS (SELECT tbl, count(*) AS rows_before FROM t GROUP BY tbl),
      sa AS (SELECT tbl, count(*) AS rows_after,
          count(CASE WHEN k IN (SELECT k FROM del) THEN 1 END) AS n_orphans,
          bit_xor(CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT))
            AS survivor_xor
        FROM surv GROUP BY tbl)
      SELECT b.tbl, b.rows_before,
        b.rows_before - coalesce(sa.rows_after, 0) AS n_deleted,
        coalesce(sa.rows_after, 0) AS rows_after,
        coalesce(sa.n_orphans, 0) AS n_orphans,
        coalesce(sa.survivor_xor, 0) AS survivor_xor
      FROM b LEFT JOIN sa USING (tbl) ORDER BY tbl"""))

  /** md5 60-bit point for a ring label — the identical value both
    * engines derive from `substr(md5(x), 1, 15)` (the sigOfMd5 compiled-
    * twin precedent; StreamingSpec asserts that equivalence for the
    * signature scheme, and q220's oracle hash-match asserts it here).
    */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private val VNodes = 16
  /** (shard, ring position) for shards 0..9 × 16 virtual nodes —
    * compile-time constants embedded in BOTH the Spark plan and the
    * oracle SQL (the q51 hyperplane-literal pattern).
    */
  private lazy val ring10: Seq[(Int, Long)] =
    for { sh <- 0 until 10; v <- 0 until VNodes } yield (sh, h60(s"shard:$sh:$v"))

  /** Consistent-hash re-sharding audit (Karger et al. 1997 — public
    * literature): when a sharded corpus grows 8 → 10 shards, naive
    * `h % N` reassignment moves ~80% of all keys (r stays only when
    * r%8 == r%10 — 8 residues of 40), while a hash RING with virtual
    * nodes moves only the keys the two NEW shards take over (~2/10).
    * At 100 TB that is the difference between a full-corpus rewrite
    * and touching a fifth of it — the shard-maintenance complement of
    * q120's export and q178's compaction plan.
    *
    * Ring assignment = successor virtual node (smallest ring position
    * ≥ the key's point, wrapping to the global minimum). The 160 ring
    * positions are md5-derived COMPILE-TIME literals shared verbatim
    * with the oracle, so both engines walk the identical ring; the
    * per-key successor is a broadcast ≤-join + min_by/arg_min (each key
    * meets ~half the 160-row vnode table before the map-side-combinable
    * min — at extreme scale the sorted ring becomes a binary-search
    * scalar expression, same result). Output: per scheme, keys moved,
    * the moved fraction, and the new layout's load balance.
    */
  val q220 = GQuery(
    "q220_consistent_shards",
    (s, dir) => {
      import s.implicits._
      val vn10 = ring10.toDF("shard", "vh")
      val vn8 = ring10.filter(_._1 < 8).toDF("shard", "vh")
      val wrap10 = ring10.minBy(_._2)._1
      val wrap8 = ring10.filter(_._1 < 8).minBy(_._2)._1
      // cached + eager: THREE consumers (both ring assignments and the
      // naive projection) would each re-run the scan + per-key md5 —
      // the capBuckets rule's "recomputed subtree carries expensive
      // hashing" case; the cached frame is one long per key
      val keys = Tables.documents(s, dir).select(
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
        .cache()
      keys.count()
      def ringAssign(k: DataFrame, vn: DataFrame, wrap: Int, out: String): DataFrame =
        k.join(broadcast(vn), col("h") <= col("vh"), "left")
          .groupBy("h")
          .agg(coalesce(min_by(col("shard"), col("vh")), lit(wrap)).as(out))
      val ringMoves = ringAssign(keys, vn8, wrap8, "old_shard")
        .join(ringAssign(keys, vn10, wrap10, "new_shard"), "h")
      val naiveMoves = keys.select(col("h"),
        (col("h") % 8).cast("int").as("old_shard"),
        (col("h") % 10).cast("int").as("new_shard"))
      def summarize(m: DataFrame, scheme: String): DataFrame = {
        val loads = m.groupBy("new_shard").agg(count(lit(1)).as("load"))
          .agg(max("load").as("max_load"), min("load").as("min_load"))
        m.agg(count(lit(1)).as("n_keys"),
            sum((col("old_shard") =!= col("new_shard")).cast("long")).as("n_moved"))
          .withColumn("moved_frac",
            Metrics.canonRound(col("n_moved").cast("double") / col("n_keys").cast("double"), 4))
          .crossJoin(broadcast(loads))
          .select(lit(scheme).as("scheme"), col("n_keys"), col("n_moved"),
            col("moved_frac"), col("max_load"), col("min_load"))
      }
      summarize(naiveMoves, "naive_mod")
        .unionByName(summarize(ringMoves, "ring"))
        .orderBy("scheme")
    },
    Some {
      val vals10 = ring10
        .map { case (sh, vh) => s"($sh, CAST($vh AS BIGINT))" }.mkString(", ")
      val vals8 = ring10.filter(_._1 < 8)
        .map { case (sh, vh) => s"($sh, CAST($vh AS BIGINT))" }.mkString(", ")
      val wrap10 = ring10.minBy(_._2)._1
      val wrap8 = ring10.filter(_._1 < 8).minBy(_._2)._1
      s"""WITH keys AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents),
      vn10(shard, vh) AS (VALUES $vals10),
      vn8(shard, vh) AS (VALUES $vals8),
      r8 AS (
        SELECT k.h, coalesce(arg_min(v.shard, v.vh), $wrap8) AS old_shard
        FROM keys k LEFT JOIN vn8 v ON k.h <= v.vh GROUP BY k.h),
      r10 AS (
        SELECT k.h, coalesce(arg_min(v.shard, v.vh), $wrap10) AS new_shard
        FROM keys k LEFT JOIN vn10 v ON k.h <= v.vh GROUP BY k.h),
      ring AS (SELECT r8.h, r8.old_shard, r10.new_shard FROM r8 JOIN r10 USING (h)),
      naive AS (
        SELECT h, CAST(h % 8 AS INTEGER) AS old_shard, CAST(h % 10 AS INTEGER) AS new_shard
        FROM keys),
      summar AS (
        SELECT 'naive_mod' AS scheme, count(*) AS n_keys,
          CAST(sum(CASE WHEN old_shard != new_shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM naive
        UNION ALL
        SELECT 'ring', count(*),
          CAST(sum(CASE WHEN old_shard != new_shard THEN 1 ELSE 0 END) AS BIGINT)
        FROM ring),
      loads AS (
        SELECT 'naive_mod' AS scheme, max(load) AS max_load, min(load) AS min_load
        FROM (SELECT new_shard, count(*) AS load FROM naive GROUP BY 1) z
        UNION ALL
        SELECT 'ring', max(load), min(load)
        FROM (SELECT new_shard, count(*) AS load FROM ring GROUP BY 1) z)
      SELECT s.scheme, s.n_keys, s.n_moved,
        floor(CAST(s.n_moved AS DOUBLE) / CAST(s.n_keys AS DOUBLE) * 1e4 + 0.5) / 1e4
          AS moved_frac,
        l.max_load, l.min_load
      FROM summar s JOIN loads l USING (scheme)
      ORDER BY s.scheme"""
    })

  def all: Seq[GQuery] = Seq(q178, q179, q180, q181, q182, q183, q184, q185, q210, q220)
}
