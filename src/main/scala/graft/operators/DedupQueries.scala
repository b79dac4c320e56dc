package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.registry.GQuery

/** Near-duplicate detection at scale: MinHash + LSH banding and SimHash —
  * the sub-quadratic dedup paths (exact + brute-force Jaccard live in
  * TextQueries). Hash functions are seeded xxhash64, so every run and every
  * partitioning yields identical signatures.
  *
  * Shape notes for 100 TB:
  *  - Signatures are computed explode → hash → groupBy(doc).agg(min/sum):
  *    each shingle is hashed exactly once per seed and the aggregation is
  *    map-side-combined, so the shuffle carries one signature row per
  *    document. (The tempting alternative — 16 array_min(transform(...))
  *    columns in one projection — recomputes the shingling per column
  *    because CollapseProject re-inlines it: 66s vs 9s at sf0.1.)
  *  - Candidate pairs come from an equi-join on (band, band_hash), the LSH
  *    trick that replaces the O(n²) cross product with a hash join.
  *  - Dense buckets (correlated corpora) are capped so no single bucket
  *    reintroduces the quadratic blowup; the cap is a recall trade-off that
  *    a taller signature would buy back.
  */
object DedupQueries {

  val NumHashes = 16
  val Bands = 8 // × 2 rows per band

  /** (doc_id, sig ARRAY<LONG>) MinHash signatures via explode + min-agg.
    * TWO xxhash64 evaluations per shingle (not one per slot): slot i mixes
    * them as h1 XOR rotl(h2, i) — the Kirsch-Mitzenmacher two-hash scheme
    * with rotation instead of multiplication so full-range longs cannot
    * ANSI-overflow. Hashing was ~16/18ths of this pipeline's scan cost.
    */
  def minhashSignatures(docs: DataFrame, nHashes: Int = NumHashes): DataFrame = {
    def rotl(c: Column, i: Int): Column =
      if (i == 0) c else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val sh = docs.select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("sh"))
      .withColumn("h1", xxhash64(col("sh")))
      .withColumn("h2", xxhash64(col("sh"), lit(1)))
    val aggs = (0 until nHashes).map(i =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), i))).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until nHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  def banded(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows).cast("string")).as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bh"))

  /** Cross-engine-verifiable MinHash signatures: ONE md5 per shingle split
    * into two 60-bit halves, Kirsch-Mitzenmacher-expanded to `nHashes`
    * slots (slot_i = h1 XOR i·h2 — i·h2 < 8·2⁶⁰ < 2⁶³ cannot ANSI-overflow
    * and the whole pipeline is bit-identical in DuckDB). The xxhash64 path
    * above stays the throughput ceiling; this one is the oracle-checkable
    * twin (q56/q83/q99).
    */
  def minhashSignaturesMd5(docs: DataFrame, nHashes: Int = 8): DataFrame = {
    val sh = docs.select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("sh"))
      .withColumn("md", md5(col("sh")))
      .withColumn("h1", conv(substring(col("md"), 1, 15), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("md"), 17, 15), 16, 10).cast("long"))
    val aggs = (0 until nHashes).map(i =>
      min(col("h1").bitwiseXOR(col("h2") * lit(i.toLong))).as(s"m$i"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until nHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Banding with a STRING bucket key (slot values joined by '-') instead
    * of the xxhash64 bucket hash — same dataflow, but expressible
    * verbatim in the DuckDB oracle. Slot count per band is `rows`.
    */
  def bandedConcat(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          array_join(transform(slice(col("sig"), b * rows + 1, rows),
            _.cast("string")), "-").as("bh"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bh"))

  /** Drop over-dense buckets. The input is CACHED first: it is consumed
    * three times downstream (bucket census + both sides of the candidate
    * self-join), and Spark re-derives an uncached subtree per reference —
    * the sf0.1 plan showed the whole scan→shingle→16-min-agg pipeline
    * executing 3×. Signature frames are small relative to the corpus
    * (one row per doc per band), so caching them is the standard LSH
    * shape at any scale (checkpoint instead if lineage length matters).
    *
    * CACHE CONTRACT: the cache lives until the caller clears it — the
    * result is lazy, so this function cannot know when the last consumer
    * has materialized. perfbench/TimeQuery/ScaleCert clear the cache per
    * query; Verify intentionally does NOT (it runs queries 4-way
    * concurrently, where a global clearCache would clobber other queries'
    * eagerly-materialized caches — at the sf0.01 gate the accumulated
    * caches are a few MB). A long-lived session composing LSH pipelines
    * should unpersist between corpora.
    */
  def capBuckets(b: DataFrame, cap: Int = 50): DataFrame = {
    // count-over-window, not census-agg + join-back: one shuffle on the
    // bucket key instead of two, and one fewer job. Same partitioning
    // either way — the window's per-bucket sort is trivial (bucket size is
    // exactly what the cap bounds).
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")
    val capped = b.withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= cap).drop("bucket_n")
      .cache()
    // eager materialization: the downstream candidate self-join reads this
    // frame on BOTH sides of one job, and concurrent consumers of an
    // unmaterialized cache race partition-by-partition — each side can end
    // up recomputing the whole signature pipeline. One count() up front
    // guarantees every later read is a cache hit.
    capped.count()
    capped
  }

  /** MinHash-LSH near-dup pairs: 16 hashes in 8 bands × 2 rows. Documents
    * sharing any band bucket become candidates; the estimated Jaccard =
    * fraction of matching minhashes filters false positives.
    */
  val q47 = GQuery(
    "q47_minhash_dedup",
    (s, dir) => {
      val sigs = minhashSignatures(Tables.documents(s, dir))
      val bb = capBuckets(banded(sigs, Bands, NumHashes / Bands), cap = 50)
      val a = bb.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = bb.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
      // codegen'd signature-agreement count (graft.plans.ArrayEqCountExpr)
      val nMatching = call_function("graft_eq_count", col("sig_a"), col("sig_b"))
      a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.functions.Metrics.canonRound(nMatching.cast("double") / NumHashes, 4).as("est_jaccard"))
        .distinct()
        .filter(col("est_jaccard") >= 0.25)
        .orderBy("id_a", "id_b")
    },
    None)

  /** (doc_id, sh LONG) 64-bit SimHash from unigram token hashes: bit j is
    * the sign of the vote sum over distinct tokens of bit j of
    * xxhash64(token) (Charikar's scheme, public literature). The token hash
    * is computed once per token row; the 64 per-bit vote sums are plain
    * conditional aggregates with map-side combine.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val bits = (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  private def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs, banding on 4×16-bit quarters: near-dups within
    * Hamming ≤ 3 agree exactly on at least one quarter (pigeonhole).
    */
  val q48 = GQuery(
    "q48_simhash_neardup",
    (s, dir) => {
      val sigs = simhashSignatures(Tables.documents(s, dir))
      val bandedSh = sigs.select(col("doc_id"), col("sh"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * 16).bitwiseAND(0xFFFFL).as("bh"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("sh"), col("bb.band"), col("bb.bh"))
      val bb = capBuckets(bandedSh, cap = 50)
      val a = bb.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = bb.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    },
    None)

  /** md5-voted SimHash signatures — the oracle-checkable twin of
    * [[simhashSignatures]] (the q56-vs-q47 relationship, applied to
    * Charikar's scheme): bit j of the signature is the sign of the vote
    * sum over distinct tokens of bit j of the token's md5-derived 60-bit
    * hash (the q56 15-hex-half recipe). 60 bits instead of the
    * production path's 64 — the md5 half IS the hash, and both engines
    * read its bits identically; the width is a parameter of the scheme,
    * not of the dataflow being proven. Zero vote sums resolve to bit 0
    * (strict > 0), deterministically in both engines. Same aggregation
    * shape as production: one hash per distinct token row, 60 conditional
    * sums with map-side combine.
    */
  def simhashSignaturesMd5(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h1", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("h1"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val bits = (0 until 60).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** The DuckDB CTEs replaying [[simhashSignaturesMd5]] verbatim —
    * token explode, md5 60-bit hash, per-bit votes, bit assembly —
    * generated ONCE and spliced into BOTH consumers (q214's banded pairs
    * and q268's per-doc digest), the edgePipelineOracleCtes single-source
    * discipline: twin oracles that cannot drift from each other.
    */
  private[operators] def simhashMd5OracleCtes: String = {
    val votes = (0 until 60)
      .map(j => s"sum(CASE WHEN (h1 >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n          ")
    val bits = (0 until 60)
      .map(j => s"CASE WHEN v$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
      .mkString(" +\n          ")
    s"""toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents),
      h AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h1
        FROM toks),
      v AS (
        SELECT doc_id,
          $votes
        FROM h GROUP BY doc_id),
      sig AS (
        SELECT doc_id,
          $bits AS sh
        FROM v)"""
  }

  /** SimHash near-dup twin (q48's banded pipeline on the md5-voted
    * signatures): 4 bands × 15 bits, bucket cap, Hamming ≤ 3 — by
    * pigeonhole any pair within Hamming 3 of a 60-bit signature agrees
    * exactly on at least one 15-bit quarter. Every step (votes, bit
    * assembly, band extraction, whole-bucket cap, xor-popcount) replays
    * verbatim in DuckDB, closing the last no-oracle family from the r10
    * VERDICT: q48 keeps the 64-bit xxhash64 production path.
    */
  val q214 = GQuery(
    "q214_simhash_twin",
    (s, dir) => {
      val sigs = simhashSignaturesMd5(Tables.documents(s, dir))
      val bandedSh = sigs.select(col("doc_id"), col("sh"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * 15).bitwiseAND(0x7FFFL).as("bh"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("sh"), col("bb.band"), col("bb.bh"))
      val bb = capBuckets(bandedSh, cap = 50)
      val a = bb.select(col("band"), col("bh"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b2 = bb.select(col("band"), col("bh"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b2, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    },
    Some {
      s"""WITH $simhashMd5OracleCtes,
      bands AS (
        SELECT doc_id, sh, b, (sh >> (b * 15)) & 32767 AS bh
        FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      capped AS (
        SELECT doc_id, sh, b, bh FROM (
          SELECT doc_id, sh, b, bh, count(*) OVER (PARTITION BY b, bh) AS bn
          FROM bands) z
        WHERE bn <= 50),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
          CAST(bit_count(xor(a.sh, c.sh)) AS INTEGER) AS hamming
        FROM capped a JOIN capped c
          ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id)
      SELECT id_a, id_b, hamming FROM pairs
      WHERE hamming <= 3 ORDER BY id_a, id_b"""
    })

  /** Per-document SimHash DIGEST — the q56-vs-q47 relationship applied to
    * the simhash family (r15 verdict item 6): q214 oracle-checks the
    * PAIRS that survive banding, but a wrong signature that lands in no
    * shared bucket could hide from a pair-level check; this query
    * verifies EVERY document's md5-voted signature and its four 15-bit
    * band keys row-for-row against DuckDB, so the full bit-vote →
    * fingerprint → band-extraction pipeline is exact-replay-proven at
    * the doc grain. q48 (the 64-bit xxhash64 production path) stays
    * rows-only; this is its exact-replay sibling, and its oracle splices
    * the SAME signature CTEs as q214's ([[simhashMd5OracleCtes]]) so the
    * two can never drift. Scale shape: one row per document, one
    * map-side-combined aggregation — strictly lighter than q214.
    */
  val q268 = GQuery(
    "q268_simhash_digest",
    (s, dir) => {
      val sigs = simhashSignaturesMd5(Tables.documents(s, dir))
      val bandCols = (0 until 4).map { b =>
        shiftright(col("sh"), b * 15).bitwiseAND(0x7FFFL).as(s"bh$b")
      }
      sigs.select(Seq(col("doc_id"), col("sh")) ++ bandCols: _*)
        .orderBy("doc_id")
    },
    Some {
      val bands = (0 until 4).map(b => s"(sh >> ${b * 15}) & 32767 AS bh$b").mkString(", ")
      s"""WITH $simhashMd5OracleCtes
      SELECT doc_id, sh, $bands
      FROM sig ORDER BY doc_id"""
    })

  /** Cross-engine-verifiable MinHash: ONE md5 per shingle split into two
    * 60-bit halves (h1, h2), expanded to 8 slot hashes by Kirsch-
    * Mitzenmacher double hashing — slot_i = h1 XOR (i·h2) (public
    * literature: "Less Hashing, Same Performance"). XOR instead of the
    * classic +: i·h2 < 8·2⁶⁰ < 2⁶³ cannot overflow, and XOR of two
    * positive longs cannot either, so the pipeline is ANSI-safe AND
    * bit-identical in DuckDB. 8× fewer md5 invocations than the
    * md5(s || '#i') formulation — the hash was the whole cost of this
    * query. The xxhash64 path (q47) stays the throughput ceiling; this one
    * proves the minhash DATAFLOW cross-engine, not just non-empty.
    */
  val q56 = GQuery(
    "q56_minhash_digest",
    (s, dir) => {
      val nH = 8
      val sh = Tables.documents(s, dir).select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("sh"))
      val withHalves = sh
        .withColumn("md", md5(col("sh")))
        .withColumn("h1", conv(substring(col("md"), 1, 15), 16, 10).cast("long"))
        .withColumn("h2", conv(substring(col("md"), 17, 15), 16, 10).cast("long"))
      val aggs = (0 until nH).map(i =>
        min(col("h1").bitwiseXOR(col("h2") * lit(i.toLong))).as(s"m$i"))
      withHalves.groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"),
          md5(concat_ws("-", (0 until nH).map(i => col(s"m$i").cast("string")): _*)).as("sig_digest"))
        .orderBy("doc_id")
    },
    Some {
      val nH = 8
      val mins = (0 until nH).map(i => s"min(xor(h1, h2 * $i)) AS m$i").mkString(",\n          ")
      val cat = (0 until nH).map(i => s"m$i").mkString(", ")
      s"""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
        FROM toks),
      md AS (
        SELECT doc_id, md5(s) AS md FROM sh),
      halves AS (
        SELECT doc_id,
          CAST(('0x' || substr(md, 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md, 17, 15)) AS BIGINT) AS h2
        FROM md),
      sig AS (
        SELECT doc_id,
          $mins
        FROM halves GROUP BY doc_id)
      SELECT doc_id, md5(concat_ws('-', $cat)) AS sig_digest FROM sig ORDER BY doc_id"""
    })

  /** End-to-end dedup CLUSTERING: md5-MinHash signatures → LSH banding →
    * candidate pairs → signature-agreement filter → connected components →
    * per-document cluster assignment. Near-duplication is not transitive,
    * so real corpus dedup keeps one survivor per connected component of the
    * pair graph — this query is that missing last mile over q56's
    * cross-engine-verifiable signature path (md5 end-to-end, so the WHOLE
    * pipeline including the recursive-CTE components hash-matches DuckDB).
    *
    * Scale shape: signatures/banding as in q47/q56 (explode → min-agg,
    * bucket cap against blowup); the pair filter joins signatures back to
    * the CAPPED candidate set only (the zip_with agreement count is an
    * interpreted HOF — fine per candidate pair, never per corpus row); the
    * component step is O(log) shuffle rounds (see ConnectedComponents).
    */
  /** q83's near-dup EDGE pipeline, factored for reuse: md5/K-M MinHash
    * signatures → 4×2 banding → bucket cap → signature-agreement filter
    * → (u, v) pairs. Shared by the batch clustering (q83) and the
    * streaming incremental clustering (q227), which slices exactly this
    * edge set into micro-batches.
    */
  def dedupEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val nH = 8
    val docs = Tables.documents(s, dir)
    // one md5 per shingle, K-M-expanded to 8 slots — see q56
    // cached: consumed by banding AND twice by the pair filter
    val sig = minhashSignaturesMd5(docs, nH).cache()
    val bandedSig = bandedConcat(sig, bands = 4, rows = 2)
      .select(col("doc_id"), col("band"), col("bh"))
    val bb = capBuckets(bandedSig, cap = 50)
    // no distinct: multi-band repeats (≤4×) cost less than the extra
    // shuffle, and ConnectedComponents dedups its edge set anyway
    val pairs = bb.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(bb.select(col("band"), col("bh"), col("doc_id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val sa = sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("n_eq", call_function("graft_eq_count", col("sig_a"), col("sig_b")))
      .filter(col("n_eq") >= nH / 2)
      .select(col("id_a").as("u"), col("id_b").as("v"))
  }

  /** Per-document cluster assignment + sizes from a (id, comp) non-root
    * component frame — q83's reporting tail, shared with q227.
    */
  def clusterReport(s: org.apache.spark.sql.SparkSession, dir: String,
                    comp: DataFrame): DataFrame = {
    val docs = Tables.documents(s, dir)
    val assign = docs.select("doc_id")
      .join(comp, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster_id"))
    val sizes = assign.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    assign.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Shared DuckDB oracle prefix for [[dedupEdges]]' pipeline — shingles
    * → md5/K-M signatures → 4×2 banding → 50-cap → agreement ≥ nH/2 —
    * ending at the `good` (id_a, id_b) CTE. ONE generator feeds q83's
    * oracle and GraphOnDedup's (q261/q262), so a change to the Spark
    * pipeline cannot silently desynchronize one oracle copy from the
    * other (they would both break, loudly).
    */
  /** SQL for the slot-agreement count between `sig` rows aliased sa/sb —
    * the verify predicate every md5-minhash oracle shares.
    */
  private[operators] def sigAgreeSum(nH: Int = 8): String =
    (0 until nH).map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")

  /** The md5-minhash SIGNATURE oracle chain — toks→sh→md→halves→sig→bands
    * over `srcTable`(doc_id, text), the 4×2 band layout — shared by every
    * md5-LSH oracle (q83/q261/q262 via [[edgePipelineOracleCtes]], and
    * q99/q105/q142's custom candidate stages). Previously q99/q105/q142
    * hand-copied this chain, recreating exactly the one-copy drift the
    * pipeline generator was factored to prevent (review finding, r14).
    */
  private[operators] def sigOracleCtes(srcTable: String = "documents", nH: Int = 8): String = {
    val mins = (0 until nH).map(i => s"min(xor(h1, h2 * $i)) AS m$i").mkString(",\n          ")
    val bandCase = "CASE b WHEN 0 THEN concat_ws('-', m0, m1) " +
      "WHEN 1 THEN concat_ws('-', m2, m3) WHEN 2 THEN concat_ws('-', m4, m5) " +
      "ELSE concat_ws('-', m6, m7) END"
    s"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM $srcTable),
      sh AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
        FROM toks),
      md AS (
        SELECT doc_id, md5(s) AS md FROM sh),
      halves AS (
        SELECT doc_id,
          CAST(('0x' || substr(md, 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md, 17, 15)) AS BIGINT) AS h2
        FROM md),
      sig AS MATERIALIZED (
        SELECT doc_id,
          $mins
        FROM halves GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b, $bandCase AS bh
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS b))"""
  }

  private[operators] def edgePipelineOracleCtes(srcTable: String = "documents"): String = {
    val nH = 8
    s"""${sigOracleCtes(srcTable, nH)},
      capped AS (
        SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY b, bh) <= 50),
      pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM capped a JOIN capped c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id),
      good AS (
        SELECT p.id_a, p.id_b
        FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
        WHERE (${sigAgreeSum(nH)}) >= ${nH / 2})"""
  }

  val q83 = GQuery(
    "q83_dedup_clusters",
    (s, dir) => clusterReport(s, dir,
      ConnectedComponents.components(dedupEdges(s, dir))),
    Some {
      s"""WITH RECURSIVE ${edgePipelineOracleCtes()},
      edges AS (
        SELECT id_a AS u, id_b AS v FROM good
        UNION ALL SELECT id_b, id_a FROM good),
      r AS (
        SELECT doc_id AS id, doc_id AS lbl FROM documents
        UNION
        SELECT e.v AS id, r.lbl FROM r JOIN edges e ON e.u = r.id),
      assign AS (
        SELECT id AS doc_id, min(lbl) AS cluster_id FROM r GROUP BY id),
      sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM assign GROUP BY cluster_id)
      SELECT a.doc_id, a.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size
      FROM assign a JOIN sizes s USING (cluster_id)
      ORDER BY a.doc_id"""
    })

  /** End-to-end corpus dedup SUMMARY through the user-facing composite
    * (DedupPipeline.dedupCorpusClustered: exact dedup → LSH pairs →
    * connected components → one survivor per component), reported as a
    * per-source survival rate. Routed through the md5/K-M signature path
    * so the ENTIRE composite — exact dedup, signatures, banding, bucket
    * cap, pair filter, connected components, survivor policy, rate
    * rollup — is DuckDB-oracle-checked, not just the q83 slice of it.
    */
  val q99 = GQuery(
    "q99_dedup_rate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val survivors = DedupPipeline.dedupCorpusClustered(docs,
        estJaccardThreshold = 0.5, md5Sigs = true)
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(survivors.groupBy("source").agg(count(lit(1)).as("n_survivors")), Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
        .orderBy("source")
    },
    Some {
      s"""WITH RECURSIVE exact AS (
        SELECT doc_id, source, text FROM documents
        QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
      ${edgePipelineOracleCtes(srcTable = "exact")},
      edges AS (
        SELECT id_a AS u, id_b AS v FROM good
        UNION ALL SELECT id_b, id_a FROM good),
      r AS (
        SELECT doc_id AS id, doc_id AS lbl FROM exact
        UNION
        SELECT e.v AS id, r.lbl FROM r JOIN edges e ON e.u = r.id),
      assign AS (
        SELECT id AS doc_id, min(lbl) AS cluster_id FROM r GROUP BY id),
      counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      surv AS (
        SELECT e.source, count(*) AS n_survivors
        FROM assign a JOIN exact e ON e.doc_id = a.doc_id
        WHERE a.cluster_id = a.doc_id
        GROUP BY e.source)
      SELECT c.source, c.n_docs, coalesce(s.n_survivors, 0) AS n_survivors
      FROM counts c LEFT JOIN surv s USING (source)
      ORDER BY c.source"""
    })

  /** INCREMENTAL near-dup — "is this NEW document a near-dup of the
    * EXISTING corpus": the batch-ingestion twin of the streaming q100
    * (and the near-dup complement of q86's exact bloom novelty). The
    * incoming slice's band keys join the reference slice's band keys —
    * a two-SIDED equi join, not a self-join, so the reference corpus is
    * scanned once and only colliding buckets are compared. md5/K-M
    * signatures end to end → the whole flow (split, signatures, banding,
    * candidate join, agreement filter, per-doc rollup incl. zero-match
    * novelty rows) is oracle-checked.
    */
  val q105 = GQuery(
    "q105_incremental_neardup",
    (s, dir) => {
      val nH = 8
      val docs = Tables.documents(s, dir)
      // one signature pass over the WHOLE corpus, split afterwards —
      // consumed by banding and twice by the agreement join
      val sig = minhashSignaturesMd5(docs, nH).cache()
      sig.count()
      val banded = bandedConcat(sig, bands = 4, rows = 2)
      val bIn = banded.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select(col("band"), col("bh"), col("doc_id"))
      // reference side capped at the first 50 docs per bucket (the q142
      // form): without it a boilerplate bucket of B refs × I incoming
      // reproduces the |bucket|² blowup the file header's invariant
      // forbids (review finding, r14); candidates per incoming doc stay
      // bands × cap, a recall trade a taller signature would buy back
      val wRef = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bh").orderBy("doc_id")
      val bRef = banded.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        .withColumn("rn", row_number().over(wRef)).filter(col("rn") <= 50)
        .select(col("band"), col("bh"), col("doc_id").as("ref_id"))
      val pairs = bIn.join(bRef, Seq("band", "bh"))
        .select("doc_id", "ref_id").distinct()
      val matches = pairs
        .join(sig.select(col("doc_id"), col("sig").as("sig_a")), "doc_id")
        .join(sig.select(col("doc_id").as("ref_id"), col("sig").as("sig_b")), "ref_id")
        .withColumn("n_eq", call_function("graft_eq_count", col("sig_a"), col("sig_b")))
        .filter(col("n_eq") >= nH / 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_near_dups"), max(col("n_eq")).as("max_eq"))
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0).select("doc_id")
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
          coalesce(col("max_eq").cast("double") / nH, lit(0.0)).as("best_est"))
        .orderBy("doc_id")
    },
    Some {
      val nH = 8
      val eqSum = sigAgreeSum(nH)
      s"""WITH ${sigOracleCtes("documents", nH)},
      refb AS (
        -- reference side capped at the first 50 per bucket, mirroring
        -- the Spark row_number form (and q142's oracle)
        SELECT doc_id, b, bh,
          row_number() OVER (PARTITION BY b, bh ORDER BY doc_id) AS rn
        FROM bands WHERE doc_id % 5 <> 0),
      pairs AS (
        SELECT DISTINCT i.doc_id, r.doc_id AS ref_id
        FROM bands i JOIN refb r ON i.b = r.b AND i.bh = r.bh AND r.rn <= 50
        WHERE i.doc_id % 5 = 0),
      matches AS (
        SELECT p.doc_id, count(*) AS n_near_dups, max($eqSum) AS max_eq
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_id
        JOIN sig sb ON sb.doc_id = p.ref_id
        WHERE ($eqSum) >= ${nH / 2}
        GROUP BY p.doc_id)
      SELECT d.doc_id,
        coalesce(m.n_near_dups, 0) AS n_near_dups,
        coalesce(CAST(m.max_eq AS DOUBLE) / $nH, 0.0) AS best_est
      FROM documents d LEFT JOIN matches m ON m.doc_id = d.doc_id
      WHERE d.doc_id % 5 = 0
      ORDER BY d.doc_id"""
    })

  /** SOFT dedup via suppression weights — the alternative to q40's hard
    * drop: every exact-duplicate cluster keeps all members but each
    * carries weight 1/cluster_size, so the cluster contributes exactly
    * one document's worth of training signal however many copies exist.
    * Output is the per-source effective corpus (raw vs effective docs and
    * tokens) — the numbers a mixture-weighting step (q110) would consume
    * instead of raw counts when dedup is done by weighting, not removal.
    *
    * Scale: fingerprint agg + one equi join back on the fingerprint (both
    * shuffle on fp, AQE reuses the partitioning) + a per-source agg.
    * Weighted sums ride the exactSum decimal path so they are partition-
    * order-independent.
    */
  /** The q140 body over any (doc_id, source, text) frame — factored out
    * so DedupSpec can pin the weighting math on a constructed corpus
    * (the fixtures only carry duplicate clusters at sf0.1).
    */
  def suppressionStats(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val n = d.groupBy("fp").agg(count(lit(1)).as("n_copies"))
    d.join(n, "fp")
      .withColumn("w", graft.functions.Metrics.canonRound(lit(1.0) / col("n_copies"), 6))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        graft.functions.Metrics.canonRound(
          graft.functions.Metrics.exactSum(col("w")), 4).as("eff_docs"),
        sum("n_tok").as("n_tokens"),
        graft.functions.Metrics.canonRound(
          graft.functions.Metrics.exactSum(col("n_tok") * col("w")), 4).as("eff_tokens"))
      .orderBy("source")
  }

  val q140 = GQuery(
    "q140_dedup_suppression",
    (s, dir) => suppressionStats(Tables.documents(s, dir)),
    Some("""WITH d AS (
        SELECT doc_id, source, md5(text) AS fp,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      n AS (SELECT fp, count(*) AS n_copies FROM d GROUP BY fp),
      j AS (SELECT d.source, d.n_tok, d.fp,
          floor(1.0/n.n_copies*1e6+0.5)/1e6 AS w
        FROM d JOIN n USING (fp))
      SELECT source, count(*) AS n_docs,
        count(DISTINCT fp) AS n_unique,
        floor(CAST(sum(CAST(floor(w*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)*1e4+0.5)/1e4 AS eff_docs,
        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        floor(CAST(sum(CAST(floor((n_tok*w)*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)*1e4+0.5)/1e4 AS eff_tokens
      FROM j GROUP BY source ORDER BY source"""))

  /** Train/holdout near-duplicate LEAKAGE audit: the q55 hash split is
    * clean on exact ids, but a near-duplicate of a training document
    * sitting in the holdout silently inflates eval scores (and benchmark
    * contamination scans q109/q114 only catch verbatim 8-grams). This
    * query runs the md5-MinHash band join ACROSS the split — holdout docs
    * probing train-side buckets — and reports, per leaked holdout doc,
    * a witness train doc, the strongest signature agreement, and how many
    * train near-dups it has. The split gate that every training-data
    * pipeline should run before trusting its validation numbers.
    *
    * Scale: identical shape to q100's band join — bucketed candidates
    * only, train side capped per bucket (row_number ≤ 50 by doc_id, the
    * streaming bucket-cap semantics), so worst-case work is
    * buckets × cap × holdout-hits, never |train| × |holdout|.
    */
  /** q142 body over any (doc_id, text) frame — factored for spec use. */
  def splitLeakage(docs: DataFrame): DataFrame = {
      val isTrain = conv(substring(md5(coalesce(col("doc_id").cast("string"),
        lit("\u0000null"))), 1, 1), 16, 10).cast("int") < 12
      val sigs = minhashSignaturesMd5(docs).cache()
      sigs.count() // eager: both split sides must hit the cache (see capBuckets)
      val bb = bandedConcat(sigs, 4, 2).withColumn("is_train", isTrain)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bh").orderBy("doc_id")
      val tr = bb.filter(col("is_train"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 50)
        .select(col("band"), col("bh"), col("doc_id").as("t_id"), col("sig").as("t_sig"))
      val ho = bb.filter(!col("is_train"))
        .select(col("band"), col("bh"), col("doc_id").as("h_id"), col("sig").as("h_sig"))
      val nEq = call_function("graft_eq_count", col("h_sig"), col("t_sig")).cast("int")
      val pairs = ho.join(tr, Seq("band", "bh"))
        .select(col("h_id"), col("t_id"), nEq.as("n_eq"))
        .filter(col("n_eq") >= 4)
        .groupBy("h_id", "t_id").agg(max("n_eq").as("n_eq"))
      pairs.groupBy("h_id")
        .agg(min("t_id").as("leak_of"), max("n_eq").as("best_eq"),
          count(lit(1)).as("n_train_matches"))
        .select(col("h_id").as("doc_id"), col("leak_of"), col("best_eq"),
          col("n_train_matches"))
        .orderBy("doc_id")
  }

  val q142 = GQuery(
    "q142_split_leakage",
    (s, dir) => splitLeakage(Tables.documents(s, dir)),
    Some {
      val nH = 8
      val eqSum = sigAgreeSum(nH)
      s"""WITH ${sigOracleCtes("documents", nH)},
      split AS (
        SELECT doc_id,
          substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null')), 1, 1) < 'c' AS is_train
        FROM documents),
      tr AS (
        SELECT doc_id, b, bh,
          row_number() OVER (PARTITION BY b, bh ORDER BY doc_id) AS rn
        FROM bands JOIN split USING (doc_id) WHERE is_train),
      ho AS (
        SELECT doc_id, b, bh
        FROM bands JOIN split USING (doc_id) WHERE NOT is_train),
      rawpairs AS (
        SELECT ho.doc_id AS h_id, tr.doc_id AS t_id, ($eqSum) AS n_eq
        FROM ho JOIN tr ON ho.b = tr.b AND ho.bh = tr.bh AND tr.rn <= 50
        JOIN sig sa ON sa.doc_id = ho.doc_id
        JOIN sig sb ON sb.doc_id = tr.doc_id),
      pairs AS (
        SELECT h_id, t_id, max(n_eq) AS n_eq
        FROM rawpairs WHERE n_eq >= ${nH / 2} GROUP BY h_id, t_id)
      SELECT h_id AS doc_id, min(t_id) AS leak_of,
        CAST(max(n_eq) AS INTEGER) AS best_eq,
        count(*) AS n_train_matches
      FROM pairs GROUP BY h_id ORDER BY doc_id"""
    })

  /** Windowed cross-source STREAMING dedup (streaming.DedupStreams.
    * windowedCrossSourceDedup): even-numbered sources form the reference
    * feed, odd the incoming feed; an incoming doc is a duplicate only if
    * its canonical fingerprint (q43's sorted-distinct-token form —
    * exact fingerprints essentially never cross feeds; reorder-only
    * mirrors do) appeared on the reference feed within the preceding
    * 60 minutes of (synthetic, doc_id-derived) event time. The
    * watermarked stream-stream interval join keeps both state stores
    * bounded — the single-batch fixture run is oracle-equal to the plain
    * SQL interval join below; cross-batch behavior is spec-verified on
    * multi-file feeds in StreamingSpec.
    */
  val q146 = GQuery(
    "q146_stream_windowed_dedup",
    (s, dir) => {
      val (docs, _) = graft.streaming.StreamHarness.fixtureStream(s, dir, "documents")
      graft.streaming.DedupStreams.windowedCrossSourceDedup(s, docs)
    },
    Some("""WITH d AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
          TIMESTAMP '2024-01-01' + doc_id * INTERVAL 1 SECOND AS ts,
          -- mirror the stream's regexp_extract+coalesce form EXACTLY: a
          -- source without trailing digits routes to the incoming feed
          -- (false), where the old substr CAST would error or misroute
          -- (review finding, r14 — the 'mirrored verbatim' claim in
          -- DedupStreams was false until this line matched it)
          coalesce(TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 2 = 0,
                   false) AS is_ref
        FROM documents),
      a AS (SELECT doc_id AS a_id, fp, ts AS a_ts FROM d WHERE is_ref),
      b AS (SELECT doc_id AS b_id, fp, ts AS b_ts FROM d WHERE NOT is_ref),
      p AS (
        SELECT b.b_id, a.a_id
        FROM b JOIN a USING (fp)
        WHERE a.a_ts >= b.b_ts - INTERVAL 60 MINUTE AND a.a_ts <= b.b_ts)
      SELECT b_id AS doc_id, min(a_id) AS dup_of, count(*) AS n_ref_dups
      FROM p GROUP BY b_id ORDER BY doc_id"""))

  /** LSH-banding RECALL audit — the measurement that justifies the dedup
    * family's banding parameters the way q102 justifies the ANN
    * hyperplanes: per exact-Jaccard band, what fraction of TRUE near-dup
    * pairs does the banded MinHash join actually surface, against the
    * textbook expectation 1−(1−j^r)^b (Broder/LSH analysis; here r=2
    * rows × b=4 bands over 8 md5-minhash slots)? Running it per corpus
    * snapshot is how a production pipeline notices that a vocabulary
    * shift has pushed its duplicate mass into a jaccard band where the
    * banding no longer catches it (the r9 q87 incident, as a metric).
    *
    * Truth pairs come from an INVERTED-INDEX exact-Jaccard join on a
    * deterministic sample (doc_id % 5, same-lang blocks): explode
    * distinct shingles, equi-join on the shingle, count per pair —
    * intersection sizes fall out of a codegen hash join + hash agg
    * instead of an interpreted per-pair array_intersect (2.3× faster
    * here, and the shape that scales: cost is Σ df² over shingles). The
    * truth join applies a df cap (64, per lang-scoped shingle), which
    * ScaleCert's q211_lsh_recall row times at 10× data —
    * ultra-common shingles stop generating df² candidate rows, and the
    * oracle replays the identical windowed-count cap so the audit stays
    * hash-checked. The cap biases j slightly downward for pairs whose
    * overlap includes a hot shingle (documented measurement trade-off;
    * a hot shingle carries ~no jaccard signal at corpus scale). Pairs
    * sharing zero surviving shingles have j=0 and cannot reach the
    * 0.05 floor, so skipping them loses nothing. Recall estimated on a
    * sample is unbiased per band. The corpus' organic duplicate mass sits almost entirely
    * below j=0.2 in any sample (both members of a rare high-j pair
    * survive a p-sample with probability p²), so the high bands the
    * banding exists FOR would go unmeasured — the audit therefore
    * injects deterministic near-dup twins (the q201 injected-variant
    * precedent): drop-last-token twins land at j≈0.95 and
    * drop-last-quarter twins at j≈0.7, giving every SF a populated high
    * band with a known expectation. Candidates come from the REAL banded
    * pipeline (md5 signatures → 4×2 bandedConcat → bucket equi-join) with
    * no agreement filter, so the audit measures the banding itself. The
    * expectation term is built from canonically-rounded j with plain
    * multiplications only ((1-j²) squared twice) — IEEE-exact and
    * engine-portable, where pow() would be library-dependent.
    */
  val q211 = GQuery(
    "q211_lsh_recall",
    (s, dir) => {
      import graft.functions.Metrics
      val base = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      // Injected twin ids live in the NEGATIVE id range: -(doc_id+1)
      // can never collide with a real non-negative doc_id at ANY corpus
      // size (the former +1e9/+2e9 offsets silently collided past ~1e9
      // rows), and the two twin families stay disjoint from each other
      // because their source residues (doc_id%20 = 0 vs 10) are.
      val toks = TextQueries.tokens(col("text"))
      val drop1 = base.filter(col("doc_id") % 20 === 0 && size(toks) >= 3)
        .select((-(col("doc_id") + 1)).as("doc_id"), col("lang"),
          array_join(slice(toks, lit(1), size(toks) - 1), " ").as("text"))
      val dropQ = base.filter(col("doc_id") % 20 === 10 && size(toks) >= 8)
        .select((-(col("doc_id") + 1)).as("doc_id"), col("lang"),
          array_join(slice(toks, lit(1), size(toks) - (size(toks) / lit(4)).cast("int")), " ")
            .as("text"))
      val docs = base.unionByName(drop1).unionByName(dropQ)
      // exact truth via inverted index: one distinct-shingle row per
      // (doc, shingle), hashed to a long (q46's 8-byte-key argument;
      // collision odds ~1e-9 per corpus and the oracle gate would
      // surface one). The frame feeds both join sides and the size agg —
      // cached + eagerly materialized (capBuckets' cache contract).
      // df cap (timed at 10× data by ScaleCert's q211 row): a windowed
      // per-(lang, shingle) doc count drops ultra-common shingles BEFORE
      // the self-join, bounding the join at Σ min(df, 64)² instead of
      // Σ df² — the difference between linear-ish and quadratic blowup
      // when one boilerplate bigram appears in half a real corpus.
      // Collision note: the cap keys on the RAW shingle string — exactly
      // what the oracle caps on — so a 64-bit hash collision can no
      // longer merge two shingles' dfs and drop both wholesale on the
      // Spark side only. The hash is applied AFTER the cap, narrowing
      // the residual collision risk back to the pre-existing one-pair
      // intersection inflation (~1e-9 at fixture scale, acknowledged;
      // the oracle hash gate at 3 SFs would surface it). The df window
      // shuffles strings instead of 8-byte hashes — a few extra bytes
      // per row, bounded by the same cap.
      val shAll = docs.select(col("doc_id"), col("lang"),
          explode(array_distinct(TextQueries.bigrams(TextQueries.tokens(col("text"))))).as("shs"))
      val wDf = org.apache.spark.sql.expressions.Window.partitionBy("lang", "shs")
      val sh = shAll.withColumn("df", count(lit(1)).over(wDf))
        .filter(col("df") <= 64)
        .select(col("doc_id"), col("lang"), xxhash64(col("shs")).as("s"))
        .cache()
      sh.count()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val ia = sh.select(col("lang"), col("s"), col("doc_id").as("id_a"))
      val ib = sh.select(col("lang"), col("s"), col("doc_id").as("id_b"))
      val inter = ia.join(ib, Seq("lang", "s")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
      val truth = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          Metrics.canonRound(col("i").cast("double") /
            (col("na") + col("nb") - col("i")).cast("double"), 4).as("j"))
        .filter(col("j") >= 0.05)
      // candidates: the deployed banded path, uncapped and unfiltered.
      // Cached + eager (capBuckets' racing-consumers rule): both sides
      // of the self-join read this frame, and an uncached subtree would
      // re-run the scan→shingle→md5→8-min-agg pipeline per side.
      val bb = bandedConcat(minhashSignaturesMd5(docs, nHashes = 8), bands = 4, rows = 2)
        .cache()
      bb.count()
      val ca = bb.select(col("band"), col("bh"), col("doc_id").as("id_a"))
      val cb = bb.select(col("band"), col("bh"), col("doc_id").as("id_b"))
      val cands = ca.join(cb, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      val j2 = col("j") * col("j")
      val t = lit(1.0) - j2
      val expR = lit(1.0) - (t * t) * (t * t)
      truth.join(cands.withColumn("caught", lit(1)), Seq("id_a", "id_b"), "left")
        .withColumn("bucket_lo", floor(col("j") * 10) / 10)
        .withColumn("exp_r", expR)
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_pairs"),
          count(col("caught")).as("n_caught"),
          Metrics.canonRound(
            count(col("caught")).cast("double") / count(lit(1)), 4).as("recall"),
          Metrics.canonRound(Metrics.exactMean(col("exp_r")), 4).as("exp_recall"))
        .orderBy("bucket_lo")
    },
    Some {
      val mins = (0 until 8).map(i => s"min(xor(h1, h2 * $i)) AS m$i").mkString(", ")
      val bandArms = (0 until 4).map { bnd =>
        s"WHEN $bnd THEN CAST(m${2 * bnd} AS VARCHAR) || '-' || CAST(m${2 * bnd + 1} AS VARCHAR)"
      }.mkString(" ")
      s"""WITH base AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
      d1 AS (
        SELECT -(sid + 1) AS doc_id, lang,
          array_to_string(list_slice(t, 1, len(t) - 1), ' ') AS text
        FROM (SELECT doc_id AS sid, lang, string_split(text, ' ') AS t FROM base) z
        WHERE sid % 20 = 0 AND len(t) >= 3),
      dq AS (
        SELECT -(sid + 1) AS doc_id, lang,
          array_to_string(list_slice(t, 1, len(t) - (len(t) // 4)), ' ') AS text
        FROM (SELECT doc_id AS sid, lang, string_split(text, ' ') AS t FROM base) z
        WHERE sid % 20 = 10 AND len(t) >= 8),
      docs AS (
        SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM dq),
      shx0 AS (
        SELECT doc_id, lang,
          unnest(list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-1),
            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))) AS s
        FROM docs),
      shx AS (
        SELECT doc_id, lang, s FROM (
          SELECT doc_id, lang, s, count(*) OVER (PARTITION BY lang, s) AS df
          FROM shx0) c
        WHERE df <= 64),
      sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      ix AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM shx a JOIN shx b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth0 AS (
        SELECT ix.id_a, ix.id_b,
          floor((CAST(ix.i AS DOUBLE) / (na.n + nb.n - ix.i)) * 1e4 + 0.5)/1e4 AS j
        FROM ix JOIN sizes na ON na.doc_id = ix.id_a
                JOIN sizes nb ON nb.doc_id = ix.id_b),
      truth AS (SELECT * FROM truth0 WHERE j >= 0.05),
      toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
      shr AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
        FROM toks),
      halves AS (
        SELECT doc_id,
          CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2
        FROM shr),
      sig AS (SELECT doc_id, $mins FROM halves GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b, CASE b $bandArms END AS bh
        FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      cands AS (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id),
      je AS (
        SELECT t.id_a, t.id_b, t.j,
          CASE WHEN c.id_a IS NOT NULL THEN 1 END AS caught,
          1.0 - ((1.0 - t.j*t.j) * (1.0 - t.j*t.j)) * ((1.0 - t.j*t.j) * (1.0 - t.j*t.j)) AS exp_r,
          floor(t.j * 10)/10 AS bucket_lo
        FROM truth t LEFT JOIN cands c ON c.id_a = t.id_a AND c.id_b = t.id_b)
      SELECT bucket_lo, count(*) AS n_pairs, count(caught) AS n_caught,
        floor(CAST(count(caught) AS DOUBLE)/count(*) * 1e4 + 0.5)/1e4 AS recall,
        floor(CAST(sum(CAST(floor(exp_r*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)/count(*)
          * 1e4 + 0.5)/1e4 AS exp_recall
      FROM je GROUP BY bucket_lo ORDER BY bucket_lo"""
    })

  /** Streaming-maintained MinHash/LSH index (streaming.IndexStreams):
    * batch-built base index over doc_id%3==0, two micro-batches of new
    * documents extend it through StreamHarness.runVersionedMerge's
    * insert-only merges, candidate pairs emitted new-vs-index +
    * within-batch per batch. The oracle is the BATCH banded self-join
    * over the whole corpus — equal to the streamed pair log for any
    * micro-batch slicing (every pair lands exactly once: bootstrap,
    * later-arrival, or within-batch). The stream-built ≡ batch-built
    * INDEX equality is pinned in StreamingSpec.
    */
  val q215 = GQuery(
    "q215_stream_minhash_index",
    (s, dir) => graft.streaming.IndexStreams.streamingMinhashIndex(s, dir),
    Some {
      val mins = (0 until 8).map(i => s"min(xor(h1, h2 * $i)) AS m$i").mkString(", ")
      val bandArms = (0 until 4).map { bnd =>
        s"WHEN $bnd THEN CAST(m${2 * bnd} AS VARCHAR) || '-' || CAST(m${2 * bnd + 1} AS VARCHAR)"
      }.mkString(" ")
      s"""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      shr AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
        FROM toks),
      halves AS (
        SELECT doc_id,
          CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) AS h2
        FROM shr),
      sig AS (SELECT doc_id, $mins FROM halves GROUP BY doc_id),
      bands AS (
        SELECT doc_id, b, CASE b $bandArms END AS bh
        FROM sig, (SELECT unnest(range(0, 4)) AS b))
      SELECT a.doc_id AS id_a, c.doc_id AS id_b, count(*) AS n_bands
      FROM bands a JOIN bands c ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id
      GROUP BY 1, 2 ORDER BY id_a, id_b"""
    })

  /** Streaming twin of q83 (streaming.GraphStreams): the same near-dup
    * edge set arrives in three micro-batches and the component FOREST is
    * maintained incrementally; CC(forest(E₁) ∪ E₂) = CC(E₁ ∪ E₂) makes
    * the final state — and so the whole cluster report — equal the batch
    * clustering for any slicing, which is why this entry reuses q83's
    * recursive-CTE oracle VERBATIM (the q179/q181/q221 argument).
    */
  val q227 = GQuery(
    "q227_stream_components",
    (s, dir) => graft.streaming.GraphStreams.streamingComponents(s, dir),
    q83.oracle)

  def all: Seq[GQuery] = Seq(q47, q48, q56, q83, q99, q105, q140, q142, q146, q211, q214, q215, q227, q268)
}
