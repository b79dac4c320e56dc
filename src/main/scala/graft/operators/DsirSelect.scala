package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Data Selection with Importance Resampling — DSIR (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" —
  * public literature): fit two hashed-n-gram bag-of-features models,
  * one on a small TARGET corpus (the distribution you want more of) and
  * one on the RAW pool, and score every raw document by its estimated
  * log importance weight Σ_features log(p̂_target(b)/p̂_raw(b)) over
  * hashed feature buckets b; the selected subset is the top of that
  * ranking. This is the model-based DATA SELECTION stage of an LLM
  * pipeline (pick crawl documents that look like the curated reference
  * corpus), complementing the quality GATES (q42/q106/q228 filter bad
  * docs; DSIR chooses among good ones).
  *
  * Deterministic fixture twist (the q211/q219 injected-twin precedent):
  * the fixture's five languages share one 31-token vocabulary with
  * near-identical frequencies (measured unigram KL ≈ 0.007), so a
  * source- or lang-defined target would rank pure noise. Instead the
  * target corpus (src0/src1) carries a deterministic 3-token marker
  * suffix, and so do the EVEN doc_ids of the raw pool — the "genuinely
  * target-like" raw docs DSIR must find. The marker contributes ~6
  * features (3 unigrams + 3 bigrams) of strong positive λ; base-vocab
  * noise grows with doc length (a ~160-feature doc sums ~160 noisy λs),
  * so recovery is perfect at the head and tightens with corpus size —
  * measured top-20 = 20/20 marked at every SF, top-100 = 86/95/100 at
  * sf0.001/0.01/0.1 (the estimator concentrating as the target model's
  * sampling noise shrinks — the paper's own regime). The oracle
  * re-derives the same augmentation.
  *
  * Features are unigrams + bigrams (the paper's hashed bigram model)
  * hashed into B=64 buckets via the q56 md5 60-bit scheme — replayable
  * in DuckDB. Add-1 smoothing over the bucket axis. The per-bucket log
  * ratio λ_b is the ONLY transcendental and is snapped to the 1e-6
  * grid before use (its ln inputs are IEEE-identical integer ratios, so
  * the snap absorbs any last-ulp libm difference — the q104 argument);
  * doc scores then accumulate λ as DECIMAL(18,6) — exact and
  * order-free, so the ranking needs no further canonicalization.
  *
  * Scale shape: feature extraction is a scan (explode + the fused
  * graft_shingles Generator); both bucket-count aggregations are
  * map-side combinable to ≤ B rows; λ is a 64-row broadcast; scoring is
  * one broadcast join + one groupBy(doc_id) sum; selection is the
  * bounded-heap TopK aggregator (k rows per map partition cross the
  * shuffle, never a full sort). The corpus is scanned twice (model fit
  * + scoring) — the DSIR paper's own two passes.
  */
object DsirSelect {

  private val B = 64
  private val K = 100
  private val Marker = " qmark qmark qmark"

  private def bucket(f: Column): Column =
    conv(substring(md5(f), 1, 15), 16, 10).cast("long") % B

  /** Target corpus (marker-augmented src0/src1) and raw pool (sources
    * ≥ src2; even doc_ids marker-augmented — the planted positives).
    */
  def corpora(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    corpora(Tables.documents(s, dir))

  def corpora(d: DataFrame): (DataFrame, DataFrame) = {
    val target = d.filter(col("source").isin("src0", "src1"))
      .select(concat(col("text"), lit(Marker)).as("text"))
    val raw = d.filter(!col("source").isin("src0", "src1"))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(Marker)))
          .otherwise(col("text")).as("text"))
    (target, raw)
  }

  /** Unigram + bigram feature stream: one row per feature occurrence,
    * carrying the given id columns.
    */
  private[operators] def feats(df: DataFrame, ids: Seq[String]): DataFrame = {
    val idCols = ids.map(col)
    df.select(idCols :+ explode(split(col("text"), " ")).as("f"): _*)
      .unionByName(
        df.select(idCols :+ call_function("graft_shingles", col("text")).as("f"): _*))
  }

  def selectTopK(s: SparkSession, dir: String, k: Int = K): DataFrame =
    selectFrom(Tables.documents(s, dir), k)

  /** (f, cf) occurrence counts — the map-side-combinable aggregation the
    * two bucket models hash from. Aggregating BEFORE hashing (r18, the
    * q246 recipe) runs the md5 per DISTINCT feature (~1k at fixture
    * scale: a 31-token vocab plus bigrams) instead of per occurrence;
    * bucket counts are Σ cf over keys hashing there — identical
    * integers.
    */
  private def keyCounts(df: DataFrame): DataFrame =
    feats(df, Seq.empty).groupBy(col("f")).agg(count(lit(1)).as("cf"))

  /** Raw-pool bucket-count model (b, cr) — the expensive aggregation the
    * streaming twin (q239) maintains incrementally; counts merge by sum,
    * which is what makes the stream-built model equal the batch build
    * for any slicing.
    */
  def rawBuckets(raw: DataFrame): DataFrame =
    keyCounts(raw).groupBy(bucket(col("f")).as("b")).agg(sum("cf").as("cr"))

  def selectFrom(docs: DataFrame, k: Int = K): DataFrame = {
    val (_, raw) = corpora(docs)
    selectGiven(docs, rawBuckets(raw), k)
  }

  /** Selection from a PREBUILT raw bucket model (batch or stream-built). */
  def selectGiven(docs: DataFrame, rawModel: DataFrame, k: Int = K): DataFrame = {
    val s = docs.sparkSession
    val (target, raw) = corpora(docs)
    val rf = feats(raw, Seq("doc_id"))
    // target model hashed per distinct key too (see keyCounts)
    val tb = keyCounts(target).groupBy(bucket(col("f")).as("b")).agg(sum("cf").as("ct"))
      .cache() // ≤ B rows; feeds both the total and the λ join
    val rb = rawModel.cache()
    // totals are ALGEBRAIC over the bucket counts — deriving them here
    // removes two whole feature-extraction+md5 scans (plan-audited)
    val tt = tb.agg(sum("ct").as("tt"))
    val tr = rb.agg(sum("cr").as("tr"))
    val axis = s.range(0, B).select(col("id").as("b"))
    val lam = axis
      .join(tb, Seq("b"), "left").join(rb, Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr)) // 1-row scalars
      .select(col("b"), Metrics.canonRound(
        log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("tt") + lit(B.toDouble))) -
          log((coalesce(col("cr"), lit(0L)) + lit(1.0)) / (col("tr") + lit(B.toDouble))),
        6).as("lam"))
      // materialize the 64-row model and cut its lineage so the two
      // bucket-count caches can be RELEASED here — a long-lived session
      // (registry sweeps, ScaleCert) must not accumulate cached model
      // frames per invocation (the q227/KmvSketch cache-hygiene rule)
      .localCheckpoint(true)
    tb.unpersist()
    rb.unpersist()
    val scored = rf.select(col("doc_id"), bucket(col("f")).as("b"))
      .join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(col("lam").cast("decimal(18,6)")).cast("double").as("score"))
    val topk = graft.functions.TopK.topK(k)
    val top = scored.groupBy()
      .agg(topk(col("score"), col("doc_id"), col("n_feats").cast("int")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "r")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("r.key1").as("doc_id"), col("r.key2").cast("long").as("n_feats"),
        col("r.value").as("score"))
    val dims = docs.select(col("doc_id"), col("source"), col("lang"))
    broadcast(top).join(dims, Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_feats"), col("score"))
      .orderBy("rank")
  }

  val q230 = GQuery(
    "q230_dsir_select",
    (s, dir) => selectTopK(s, dir),
    Some("""WITH tgt AS (
        SELECT text || ' qmark qmark qmark' AS text FROM documents
        WHERE source IN ('src0','src1')),
      rawd AS (
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN text || ' qmark qmark qmark'
               ELSE text END AS text
        FROM documents WHERE source NOT IN ('src0','src1')),
      tfe AS (
        SELECT unnest(string_split(text,' ')) AS f FROM tgt
        UNION ALL
        SELECT unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
        FROM (SELECT string_split(text,' ') AS t FROM tgt)),
      rfe AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS f FROM rawd
        UNION ALL
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
            i -> t[i] || ' ' || t[i+1])) AS f
        FROM (SELECT doc_id, string_split(text,' ') AS t FROM rawd)),
      tb AS (
        SELECT CAST(('0x'||substr(md5(f),1,15)) AS BIGINT) % 64 AS b,
          count(*) AS ct FROM tfe GROUP BY 1),
      rb AS (
        SELECT CAST(('0x'||substr(md5(f),1,15)) AS BIGINT) % 64 AS b,
          count(*) AS cr FROM rfe GROUP BY 1),
      tot AS (SELECT (SELECT count(*) FROM tfe) AS tt,
                     (SELECT count(*) FROM rfe) AS tr),
      axis AS (SELECT unnest(generate_series(0, 63)) AS b),
      lam AS (
        SELECT a.b,
          floor((ln((coalesce(tb.ct, 0) + 1.0) / (tot.tt + 64.0))
               - ln((coalesce(rb.cr, 0) + 1.0) / (tot.tr + 64.0)))*1e6+0.5)/1e6
            AS lam
        FROM axis a
        LEFT JOIN tb ON tb.b = a.b
        LEFT JOIN rb ON rb.b = a.b
        CROSS JOIN tot),
      scored AS (
        SELECT r.doc_id, count(*) AS n_feats,
          CAST(sum(CAST(l.lam AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM (SELECT doc_id, CAST(('0x'||substr(md5(f),1,15)) AS BIGINT) % 64 AS b
              FROM rfe) r
        JOIN lam l ON l.b = r.b
        GROUP BY r.doc_id),
      top AS (
        SELECT doc_id, n_feats, score,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      SELECT CAST(t.rank AS INTEGER) AS rank, t.doc_id, d.source, d.lang,
        t.n_feats, t.score
      FROM top t JOIN documents d ON d.doc_id = t.doc_id
      WHERE t.rank <= 100 ORDER BY t.rank"""))

  /** Streaming twin: the raw-pool bucket model maintained across three
    * genuine micro-batches (streaming.SampleStreams.streamingDsirSelect);
    * count-sum associativity makes the stream-built model — and so the
    * whole selection — equal the batch build for any slicing, which is
    * why this entry reuses q230's oracle VERBATIM.
    */
  val q239 = GQuery(
    "q239_streaming_dsir",
    (s, dir) => graft.streaming.SampleStreams.streamingDsirSelect(s, dir),
    q230.oracle)

  val all: Seq[GQuery] = Seq(q230, q239)
}
