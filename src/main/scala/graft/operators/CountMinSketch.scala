package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.registry.GQuery

/** Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
  * FREQUENCY member that completes the mergeable-sketch family (HLL
  * q27/q98 for distinct, KMV q219/q221 for overlap, bottom-k q225/q226
  * for quantiles): "which tokens dominate the corpus" from a state of
  * D·W integers, re-aggregable across grains and maintainable over a
  * stream. CMS is chosen over Misra-Gries/SpaceSaving deliberately:
  * their summaries depend on processing ORDER (unverifiable
  * cross-engine — the q225 KLL argument), while the CMS matrix is a
  * pure count aggregation: building it IS a groupBy, merging it IS
  * addition, both associative and commutative, so per-lang matrices
  * roll up to the global one exactly and a DuckDB oracle replays
  * everything bit-for-bit.
  *
  * Keys are the DSIR feature stream (unigrams + shingle bigrams,
  * ~1,000 distinct at fixture scale) over D=4 salted md5 rows of W=64
  * buckets — W is deliberately SMALLER than the key space so collisions
  * actually happen and the est ≥ exact one-sided error is exercised,
  * measured honestly by the per-key exact-audit column (the q139
  * pattern). Estimates are min over 4 exact integer counters — no
  * floats anywhere.
  *
  * Scale shape: the matrix build is one map-side-combinable groupBy of
  * the token stream (the only corpus-sized pass); the report joins the
  * key frame to four ≤ W-row broadcast counter slices. At 100 TB the
  * sketch state is 256 integers per grain.
  *
  * Honesty note on the fixture: the synthetic token distribution is
  * near-UNIFORM (~900 per unigram at sf0.01), so there are no true
  * heavy hitters to tower over the e·N/W error bound and the
  * est-ranked top-20 is collision-dominated — visible, not hidden, in
  * the per-row overest column (bigrams with exact≈35 surface at
  * est≈1400). On a production Zipfian stream the same W would rank the
  * head correctly; the machinery, the merge identity, and the
  * one-sided error are what the oracle certifies.
  */
object CountMinSketch {

  val D = 4
  val W = 64
  val TopK = 20

  private def h60(salt: String, key: Column): Column =
    conv(substring(md5(concat_ws(":", lit(salt), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  private def bucket(r: Int, key: Column): Column =
    pmod(h60(s"cms$r", key), lit(W))

  /** Per-lang (feature, count) frame — ONE corpus-sized pass (map-side
    * combinable), shared by the matrix build and the key frame so the
    * tokenization runs once and the D md5 bucket hashes run per
    * DISTINCT key instead of per token occurrence (r18, guide §2.3
    * aggregate-before-shuffle: the fixture stream is ~40 occurrences
    * per distinct key, so this cuts the md5 work ~40·|corpus|·D →
    * |keys|·D; counts are exact integers, so every downstream number is
    * unchanged).
    */
  private[operators] def langKeyCounts(docs: DataFrame): DataFrame =
    DsirSelect.feats(docs, Seq("lang"))
      .groupBy(col("lang"), col("f")).agg(count(lit(1)).as("cf"))

  /** Per-lang CMS matrices: (lang, r, b, c) — the grain state the q98
    * rollup pattern merges. Built from the aggregated key counts: the
    * (r, b) cell count is Σ over keys hashing there, identical to the
    * per-occurrence count.
    */
  def langMatrices(docs: DataFrame): DataFrame =
    matricesOf(langKeyCounts(docs))

  private def matricesOf(kc: DataFrame): DataFrame =
    kc.select(col("lang"), col("cf"), posexplode(
        array((0 until D).map(r => bucket(r, col("f"))): _*)))
      .toDF("lang", "cf", "r", "b")
      .groupBy("lang", "r", "b").agg(sum("cf").as("c"))

  /** Matrix merge — plain addition, associative and commutative (what
    * makes both the rollup and the streaming twin exact). */
  def mergeMatrices(m: DataFrame): DataFrame =
    m.groupBy("r", "b").agg(sum("c").as("c"))

  /** Top-k heavy hitters estimated FROM THE SKETCH, with the exact
    * count and one-sided overestimate as audit columns.
    */
  def heavyHitters(docs: DataFrame, matrix: DataFrame): DataFrame =
    heavyHittersFromKeys(
      // materialized once: the report consumes the key frame through TWO
      // actions (the audit head() and the returned frame) — unshared,
      // each one re-pays the full tokenization scan (measured 1.2-1.6s
      // each at sf0.1 on the q247 path); the frame itself is |keys| rows.
      // localCheckpoint, NOT cache: a cached frame leaks in
      // the CacheManager for the session's lifetime, while checkpoint
      // blocks are reclaimed once the frame is unreferenced — the
      // DsirSelect cache-hygiene convention.
      DsirSelect.feats(docs, Seq.empty)
        .groupBy(col("f").as("key")).agg(count(lit(1)).as("exact"))
        .localCheckpoint(true),
      matrix)

  /** [[heavyHitters]] from a prebuilt (key, exact) frame — lets
    * [[report]] reuse the one tokenization pass its matrix build already
    * paid (identical counts either way).
    */
  private def heavyHittersFromKeys(keys: DataFrame, matrix: DataFrame): DataFrame = {
    val est = (0 until D).foldLeft(keys) { (acc, r) =>
      val mr = matrix.filter(col("r") === r)
        .select(col("b").as(s"b$r"), col("c").as(s"c$r"))
      acc.withColumn(s"b$r", bucket(r, col("key")))
        .join(broadcast(mr), s"b$r")
    }
    val aud = est.agg(count(lit(1)).as("n_keys"), sum("exact").as("stream_len"))
      .crossJoin(matrix.agg(count(lit(1)).as("matrix_cells")))
      .head()
    est.select(col("key"),
        least((0 until D).map(r => col(s"c$r")): _*).as("est"), col("exact"))
      .withColumn("overest", col("est") - col("exact"))
      .orderBy(col("est").desc, col("key"))
      .limit(TopK)
      .withColumn("n_keys", lit(aud.getLong(0)))
      .withColumn("stream_len", lit(aud.getLong(1)))
      .withColumn("matrix_cells", lit(aud.getLong(2)))
      .orderBy(col("est").desc, col("key"))
  }

  /** The registered shape: per-lang matrices ROLLED UP to the global
    * sketch (exercising the merge), then the heavy-hitter report. The
    * oracle builds the global matrix directly — passing proves the
    * merge identity cross-engine (the q98/q225 recipe). One corpus
    * tokenization pass total (r18): the cached per-lang key counts feed
    * BOTH the matrix rollup and the exact-count key frame (summing the
    * per-lang counts — same integers as a direct per-key count).
    */
  def report(docs: DataFrame): DataFrame = {
    // localCheckpoint, not cache — same hygiene note as heavyHitters
    // above: kc feeds two subtrees (exact keys + the matrix rollup) and
    // must not outlive the query in the CacheManager
    val kc = langKeyCounts(docs).localCheckpoint(true)
    heavyHittersFromKeys(
      kc.groupBy(col("f").as("key")).agg(sum("cf").as("exact")),
      mergeMatrices(matricesOf(kc)))
  }

  private def bucketSql(r: Int, key: String): String =
    s"CAST(('0x' || substr(md5('cms$r:' || $key), 1, 15)) AS BIGINT) % $W"

  val q246 = GQuery(
    "q246_cms_heavy_hitters",
    (s, dir) => report(Tables.documents(s, dir)),
    Some(s"""WITH fe AS MATERIALIZED (
        SELECT unnest(string_split(text, ' ')) AS f FROM documents
        UNION ALL
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i + 1])) AS f
        FROM (SELECT string_split(text, ' ') AS t FROM documents)),
      mx AS MATERIALIZED (
        SELECT r, b, count(*) AS c FROM (
          ${(0 until D).map(r =>
            s"SELECT $r AS r, ${bucketSql(r, "f")} AS b FROM fe")
            .mkString("\n          UNION ALL ")})
        GROUP BY r, b),
      keys AS MATERIALIZED (
        SELECT f AS key, count(*) AS exact FROM fe GROUP BY f),
      est AS (
        SELECT k.key, k.exact,
          least(${(0 until D).map(r => s"m$r.c").mkString(", ")}) AS est
        FROM keys k
        ${(0 until D).map(r =>
          s"JOIN mx m$r ON m$r.r = $r AND m$r.b = ${bucketSql(r, "k.key")}")
          .mkString("\n        ")}),
      aud AS (
        SELECT (SELECT count(*) FROM keys) AS n_keys,
               (SELECT CAST(count(*) AS BIGINT) FROM fe) AS stream_len,
               (SELECT count(*) FROM mx) AS matrix_cells),
      top AS (
        SELECT key, est, exact FROM est
        ORDER BY est DESC, key LIMIT $TopK)
      SELECT t.key, CAST(t.est AS BIGINT) AS est,
        CAST(t.exact AS BIGINT) AS exact,
        CAST(t.est - t.exact AS BIGINT) AS overest,
        CAST(a.n_keys AS BIGINT) AS n_keys,
        CAST(a.stream_len AS BIGINT) AS stream_len,
        CAST(a.matrix_cells AS BIGINT) AS matrix_cells
      FROM top t CROSS JOIN aud a
      ORDER BY t.est DESC, t.key"""))

  /** Streaming twin: the global matrix maintained per micro-batch
    * (streaming.SketchStreams.streamingCms); addition associativity
    * makes the final state equal the batch build for any slicing, so
    * this entry reuses q246's oracle VERBATIM.
    */
  val q247 = GQuery(
    "q247_streaming_cms",
    (s, dir) => graft.streaming.SketchStreams.streamingCms(s, dir),
    q246.oracle)

  val all: Seq[GQuery] = Seq(q246, q247)
}
