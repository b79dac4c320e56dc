package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Corpus-curation operators a training-data pipeline runs beyond dedup:
  * repetition filtering (the Gopher/MassiveText quality rules), benchmark
  * contamination detection, domain-mixture weighting, sequence-length
  * packing plans, a per-language quality percentile gate, and an SCD-2
  * history build (the "merge into a dimension" shape every warehouse-fed
  * pipeline needs).
  *
  * All queries follow the registry determinism contract: canonical
  * rounding via Metrics.canonRound on both engines, explicit orderBy over
  * a unique prefix, column names matched to the oracle.
  */
object PipelineQueries {

  /** Word n-gram strings (space-joined), empty below n tokens — the
    * n-ary generalization of TextQueries.bigrams with the same <n guard.
    */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Gopher-style repetition filter: fraction of bigrams that are
    * duplicates within the document, and the share the single most
    * frequent bigram takes. Highly repetitive machine-generated text
    * fails both. Thresholds (0.06) sit at the fixture's ~p85 so the flag
    * actually splits the corpus.
    *
    * Scale: graft_shingles streams one row per adjacent pair straight out
    * of the scan (no per-document arrays), and the two aggregations are
    * hash aggs on (doc_id, shingle) then doc_id — map-side combinable,
    * no window, no self-join. At 100 TB this is a pure scan+agg pipeline.
    */
  val q108 = GQuery(
    "q108_repetition_filter",
    (s, dir) => {
      val perShingle = Tables.documents(s, dir)
        .select(col("doc_id"), call_function("graft_shingles", col("text")).as("shingle"))
        .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      val perDoc = perShingle.groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("d"), max("c").as("m"))
      val dupFrac = Metrics.canonRound(lit(1.0) - col("d").cast("double") / col("n").cast("double"), 4)
      val topFrac = Metrics.canonRound(col("m").cast("double") / col("n").cast("double"), 4)
      perDoc.select(col("doc_id"),
          dupFrac.as("dup_bigram_frac"),
          topFrac.as("top_bigram_frac"),
          (dupFrac <= 0.06 && topFrac <= 0.06).cast("int").as("pass_repetition"))
        .orderBy("doc_id")
    },
    Some("""WITH sh AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(string_split(text,' '))-1),
            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS shingle
        FROM documents),
      per AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2),
      doc AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM per GROUP BY 1)
      SELECT doc_id,
        floor((1.0 - CAST(d AS DOUBLE)/CAST(n AS DOUBLE)) * 1e4 + 0.5)/1e4 AS dup_bigram_frac,
        floor((CAST(m AS DOUBLE)/CAST(n AS DOUBLE)) * 1e4 + 0.5)/1e4 AS top_bigram_frac,
        CAST(CASE WHEN floor((1.0 - CAST(d AS DOUBLE)/CAST(n AS DOUBLE)) * 1e4 + 0.5)/1e4 <= 0.06
                   AND floor((CAST(m AS DOUBLE)/CAST(n AS DOUBLE)) * 1e4 + 0.5)/1e4 <= 0.06
             THEN 1 ELSE 0 END AS INTEGER) AS pass_repetition
      FROM doc ORDER BY doc_id"""))

  /** Benchmark-contamination scan: which training documents share an
    * exact 8-gram with the held-out benchmark slice (docs with
    * doc_id % 17 = 0 stand in for an eval set). This is the standard
    * decontamination primitive (exact n-gram overlap, GPT-3 appendix C /
    * PaLM style).
    *
    * Scale: the benchmark n-gram set is distinct-reduced before the join
    * and is tiny relative to the corpus — Spark broadcasts it; the train
    * side streams. At 100 TB the join key would be xxhash64(ngram)
    * (8-byte shuffle keys); raw strings are kept here so DuckDB can
    * verify the whole dataflow. The n-grams come from the fused
    * graft_ngrams generator (string → rows, no per-document arrays — the
    * ngrams() HOF composition above is interpreted per row and ran this
    * query 7× slower), and the deduped frame is cached eagerly because
    * both the benchmark and train branches consume it (capBuckets cache
    * contract: perfbench/TimeQuery clear per query, Verify leaves it).
    */
  val q109 = GQuery(
    "q109_contamination",
    (s, dir) => {
      // n-grams travel as xxhash64 longs from the moment they leave the
      // generator (q46 precedent: 8-byte shuffle/join keys instead of
      // ~50-char strings; a collision would perturb one count and the
      // oracle gate — which joins the raw strings — would surface it).
      val g = Tables.documents(s, dir)
        .select(col("doc_id"),
          call_function("graft_ngrams", col("text"), lit(8)).as("ng_str"))
        .select(col("doc_id"), xxhash64(col("ng_str")).as("ng"))
        .distinct()
        .cache()
      g.count()
      val bench = g.filter(col("doc_id") % 17 === 0).select("ng").distinct()
      val train = g.filter(col("doc_id") % 17 =!= 0)
      val perDoc = train.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
      val hits = train.join(bench, "ng").groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
      hits.join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_contaminated"), col("n_ngrams"),
          Metrics.canonRound(col("n_contaminated").cast("double") / col("n_ngrams").cast("double"), 4)
            .as("contamination_rate"))
        .orderBy("doc_id")
    },
    Some(contaminationOracle))

  /** Shared by q109 (batch) and q114 (streaming) — the result is a set
    * property of the corpus, independent of arrival order, so one oracle
    * checks both.
    */
  private def contaminationOracle: String = """WITH g AS (
        SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-7),
            i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ng
        FROM documents),
      bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 17 = 0),
      train AS (SELECT * FROM g WHERE doc_id % 17 <> 0),
      per AS (SELECT doc_id, count(*) AS n_ngrams FROM train GROUP BY 1),
      hits AS (SELECT t.doc_id, count(*) AS n_contaminated
               FROM train t JOIN bench b ON t.ng = b.ng GROUP BY 1)
      SELECT h.doc_id, h.n_contaminated, p.n_ngrams,
        floor((CAST(h.n_contaminated AS DOUBLE)/CAST(p.n_ngrams AS DOUBLE)) * 1e4 + 0.5)/1e4
          AS contamination_rate
      FROM hits h JOIN per p ON h.doc_id = p.doc_id
      ORDER BY h.doc_id"""

  /** q109's decontamination scan as an INGEST-TIME stream (see
    * streaming.ContaminationStreams): documents are checked against the
    * static benchmark set as they land. Same output, same oracle —
    * overlap is order-independent, so any micro-batching verifies.
    */
  val q114 = GQuery(
    "q114_stream_contamination",
    (s, dir) => {
      val (docs, stage) = graft.streaming.StreamHarness.fixtureStream(s, dir, "documents")
      graft.streaming.ContaminationStreams.contaminationStream(s, docs, stage.toString, dir)
    },
    Some(contaminationOracle))

  /** Domain-mixture weights: temperature-sampled source weights
    * w_s ∝ n_tokens_s^α with α = 0.5 (sqrt is correctly rounded IEEE in
    * both engines, unlike pow(x, 0.7), so the oracle compare is exact),
    * plus the effective epoch count each source would run at that weight.
    * This is the mixture-balancing step every multilingual / multi-domain
    * training run performs.
    *
    * Scale: one scan → per-source agg (map-side combined); the
    * normalization total is a 1-row broadcast.
    */
  val q110 = GQuery(
    "q110_mixture_weights",
    (s, dir) => {
      val perSrc = Tables.documents(s, dir)
        .select(col("source"), size(TextQueries.tokens(col("text"))).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          Metrics.canonRound(sqrt(col("n_tokens").cast("double")), 4).as("w_raw"))
      val tot = perSrc.agg(
        Metrics.exactSum(col("w_raw")).as("w_tot"),
        sum("n_tokens").as("tok_tot"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          Metrics.canonRound(col("w_raw") / col("w_tot"), 4).as("mix_weight"),
          Metrics.canonRound(col("w_raw") / col("w_tot")
            * col("tok_tot").cast("double") / col("n_tokens").cast("double"), 4).as("eff_epochs"))
        .orderBy("source")
    },
    Some("""WITH src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      scored AS (SELECT source, n_docs, n_tokens,
        floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5)/1e4 AS w_raw FROM src),
      tot AS (SELECT
        CAST(sum(CAST(floor((w_raw)*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE) AS w_tot,
        CAST(sum(n_tokens) AS BIGINT) AS tok_tot FROM scored)
      SELECT source, n_docs, n_tokens,
        floor((w_raw/w_tot) * 1e4 + 0.5)/1e4 AS mix_weight,
        floor((w_raw/w_tot * CAST(tok_tot AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5)/1e4
          AS eff_epochs
      FROM scored, tot ORDER BY source"""))

  /** SCD-2 history build over orders: each customer's order stream becomes
    * validity intervals (valid_from = order date, valid_to = next order's
    * date, open interval = current row) — the merge/upsert-into-dimension
    * shape, expressed as one window pass instead of a MERGE loop.
    *
    * Scale: a single shuffle on o_custkey; the window is a sort within
    * each customer's partition. No self-join (the naive SCD build joins
    * the table to itself on "next change").
    */
  val q111 = GQuery(
    "q111_scd2_history",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val nxt = lead(col("o_orderdate"), 1).over(w)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("valid_from"),
          nxt.cast("timestamp_ntz").as("valid_to"),
          nxt.isNull.cast("int").as("is_current"),
          col("o_totalprice"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey,
        CAST(o_orderdate AS TIMESTAMP) AS valid_from,
        CAST(lead(o_orderdate) OVER w AS TIMESTAMP) AS valid_to,
        CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current,
        o_totalprice
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  /** Per-language quality percentile gate: keep documents scoring at or
    * above their language's p75 on the q42 quality score (the formula is
    * shared via TextQueries.qualityExpr so gate and scorer cannot drift).
    * Per-language (not global) thresholds are how real pipelines avoid
    * gutting low-resource languages.
    *
    * Scale: scores are computed in the scan projection; the thresholds
    * are a per-language exact percentile over ROUNDED scores (q96's
    * fence-rounding trick — a boundary row cannot flip on interpolation
    * ulps), broadcast back for the gate.
    */
  val q112 = GQuery(
    "q112_quality_gate",
    (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Metrics.canonRound(TextQueries.qualityExpr(TextQueries.tokens(col("text"))), 4).as("q"))
      val thr = scored.groupBy("lang")
        .agg(Metrics.canonRound(expr("percentile(q, 0.75)"), 4).as("q75_threshold"))
      scored.join(broadcast(thr), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q") >= col("q75_threshold"), 1L).otherwise(0L)).as("n_kept"),
          max("q75_threshold").as("q75_threshold"))
        .orderBy("lang")
    },
    Some(s"""WITH ${TextQueries.qualityScoreSqlCte},
      thr AS (SELECT lang, floor((quantile_cont(q, 0.75)) * 1e4 + 0.5)/1e4 AS q75_threshold
              FROM qscore GROUP BY lang)
      SELECT s.lang, count(*) AS n_docs,
        CAST(sum(CASE WHEN s.q >= t.q75_threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        max(t.q75_threshold) AS q75_threshold
      FROM qscore s JOIN thr t ON s.lang = t.lang
      GROUP BY s.lang ORDER BY s.lang"""))

  /** Sequence-packing plan: bucket documents by token count into
    * power-of-two sequence lengths and report, per bucket, the padding
    * waste if every doc were padded to the bucket boundary and the
    * cumulative token share — the numbers a pretraining run uses to pick
    * its sequence length / packing strategy. Buckets are CASE arithmetic
    * (not ceil(log2(n)) — log2 at exact powers of two differs by an ulp
    * across engines and would flip a bucket).
    *
    * Scale: scan projection → 4-group agg; the cumulative window runs on
    * the 4-row aggregate, not the corpus.
    */
  val q113 = GQuery(
    "q113_packing_plan",
    (s, dir) => {
      val nTok = size(TextQueries.tokens(col("text")))
      // open-ended tail: a doc LONGER than 128 tokens rounds up to the
      // next multiple of 128 (integer arithmetic, engine-exact) instead
      // of being forced into bucket 128 with NEGATIVE padding silently
      // deflating pad_waste (review finding, r14 — the old .otherwise(128)
      // was mirrored in the oracle, so the hash gate could never catch it)
      val per = Tables.documents(s, dir)
        .select(nTok.as("n_tok"))
        .withColumn("seq_bucket",
          when(col("n_tok") <= 16, 16).when(col("n_tok") <= 32, 32)
            .when(col("n_tok") <= 64, 64)
            .otherwise(expr("((n_tok + 127) div 128) * 128").cast("int")))
        .groupBy("seq_bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum(col("seq_bucket") - col("n_tok")).as("n_pad"))
      val cum = Window.orderBy("seq_bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      per.select(col("seq_bucket"), col("n_docs"), col("n_tokens"),
          Metrics.canonRound(col("n_pad").cast("double")
            / (col("n_pad") + col("n_tokens")).cast("double"), 4).as("pad_waste"),
          Metrics.canonRound(sum("n_tokens").over(cum).cast("double")
            / sum("n_tokens").over(all).cast("double"), 4).as("cum_token_share"))
        .orderBy("seq_bucket")
    },
    Some("""WITH d AS (
        SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64
                    ELSE ((n + 127) // 128) * 128 END AS seq_bucket,
               n AS n_tok
        FROM (SELECT len(string_split(text,' ')) AS n FROM documents)),
      b AS (SELECT seq_bucket, count(*) AS n_docs, sum(n_tok) AS n_tokens,
                   sum(seq_bucket - n_tok) AS n_pad
            FROM d GROUP BY 1)
      SELECT CAST(seq_bucket AS INTEGER) AS seq_bucket, n_docs,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        floor((CAST(n_pad AS DOUBLE)/(CAST(n_pad AS DOUBLE)+CAST(n_tokens AS DOUBLE))) * 1e4 + 0.5)/1e4
          AS pad_waste,
        floor((CAST(sum(n_tokens) OVER (ORDER BY seq_bucket) AS DOUBLE)
              /CAST(sum(n_tokens) OVER () AS DOUBLE)) * 1e4 + 0.5)/1e4 AS cum_token_share
      FROM b ORDER BY seq_bucket"""))

  /** Duplicated-span removal (exact substring dedup, Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — the suffix-array ExactSubstr dedup, approximated
    * distributedly): any word 8-gram occurring in ≥2 distinct documents is
    * a duplicated span; every word covered by such a span is masked out,
    * and each document is re-emitted with its surviving words plus removal
    * stats. Unlike document-level dedup (q40/q47), this removes boilerplate
    * INSIDE otherwise-unique documents.
    *
    * Scale shape: occurrences→hot-grams is a hash agg on the gram;
    * cover-positions is an equi join back on the gram (inflation bounded at
    * ×k of HOT occurrences only); the rebuild is one groupBy(doc_id). No
    * windows, no self-join, no driver state. At 100 TB the gram key would
    * be a 128-bit hash instead of the string (collision-free in practice);
    * the string key here keeps the whole pipeline DuckDB-verifiable.
    * Output text is carried as md5(clean_text) so the hash gate checks the
    * exact reconstruction without shipping megabytes through the oracle.
    */
  val q119 = GQuery(
    "q119_span_dedup",
    (s, dir) => {
      val k = 8
      // docs feeds three consumers (occ, wp, the final n_words) and occ
      // two (hot, cov) — cache both eagerly or the scan runs ~4× and the
      // 8-gram explode twice per execution (the q109 cache contract;
      // review finding, r14)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .cache()
      docs.count()
      // gram identity carried as the md5 120-bit pair (r18) — the
      // scaladoc's 100 TB form, adopted: the ~50-byte gram STRING used
      // to flow through the cache, the hot-gram aggregation AND the
      // cover join (two corpus-sized exchanges of string keys); the two
      // 60-bit halves are 16 bytes and collision-free in practice (the
      // q56 md5-identity convention). Output unchanged: the oracle keys
      // on the string and agrees wherever md5 doesn't collide.
      val occ = docs
        .select(col("doc_id"), posexplode(ngrams(col("ws"), k)))
        .toDF("doc_id", "p0", "g")
        .select(col("doc_id"), (col("p0") + 1).as("p"),
          conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("g1"),
          conv(substring(md5(col("g")), 17, 15), 16, 10).cast("long").as("g2"))
        .cache()
      occ.count()
      val hot = occ.groupBy("g1", "g2")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2)
        .select("g1", "g2")
      val cov = occ.join(hot, Seq("g1", "g2"))
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + (k - 1))).as("cp"))
        .distinct()
      val wp = docs
        .select(col("doc_id"), posexplode(col("ws")))
        .toDF("doc_id", "i0", "word")
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("word"))
      val kept = wp.join(cov,
        wp("doc_id") === cov("doc_id") && col("i") === col("cp"), "left_anti")
      val keptAgg = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept_l"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("i"), col("word")))),
            x => x.getField("word")), " ")).as("clean_md5"))
      docs.select(col("doc_id"), size(col("ws")).as("n_words"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          coalesce(col("n_kept_l"), lit(0L)).cast("int").as("n_kept"),
          (col("n_words") - coalesce(col("n_kept_l"), lit(0L)).cast("int")).as("n_removed"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      p0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-7)) AS p
             FROM w WHERE len(ws) >= 8),
      occ AS (SELECT doc_id, p, array_to_string(ws[p:p+7], ' ') AS g FROM p0),
      hot AS (SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT doc_id, cp FROM (
        SELECT o.doc_id, unnest(generate_series(o.p, o.p+7)) AS cp
        FROM occ o JOIN hot USING (g))),
      wp0 AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w),
      wp AS (SELECT doc_id, i, ws[i] AS word FROM wp0),
      kept AS (SELECT wp.doc_id, wp.i, wp.word FROM wp
               LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.i = cov.cp
               WHERE cov.cp IS NULL),
      ka AS (SELECT doc_id, count(*) AS n_kept,
                    md5(string_agg(word, ' ' ORDER BY i)) AS clean_md5
             FROM kept GROUP BY doc_id)
      SELECT w.doc_id, CAST(len(w.ws) AS INTEGER) AS n_words,
        CAST(coalesce(ka.n_kept, 0) AS INTEGER) AS n_kept,
        CAST(len(w.ws) - coalesce(ka.n_kept, 0) AS INTEGER) AS n_removed,
        coalesce(ka.clean_md5, md5('')) AS clean_md5
      FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id
      ORDER BY w.doc_id"""))

  /** Shuffled-shard export manifest (sources.ShardExport): the
    * training-data writer's plan — seeded md5 shuffle hash, shard =
    * hash % 8, per-shard doc/token totals and the md5 digest of the exact
    * within-shard doc order the writer lays down. Verifies the whole
    * export layout (assignment AND order) cross-engine; ShardExportSpec
    * additionally writes real parquet shards and checks the files against
    * this manifest. No global sort anywhere — see ShardExport scaladoc.
    */
  val q120 = GQuery(
    "q120_shard_manifest",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.sources.ShardExport.manifest(
        docs, "doc_id", size(split(col("text"), " ")), nShards = 8, seed = "graft")
    },
    Some("""WITH d AS (SELECT doc_id, len(string_split(text,' ')) AS n_tok,
        CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS h
        FROM documents),
      s AS (SELECT *, CAST(h % 8 AS INTEGER) AS shard FROM d)
      SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS seq_md5
      FROM s GROUP BY shard ORDER BY shard"""))

  /** Z-order clustering witness (sources.ZOrderLayout + the codegen
    * Morton expression plans.ZValueExpr): rank-code (customer, order-day)
    * into a 256×256 space, interleave bits, cut 16 z-contiguous files,
    * and report each file's row count and bounding box — the min/max
    * footer stats a lakehouse writer persists, i.e. the numbers that
    * decide whether a predicate on EITHER column can skip the file.
    *
    * The global ntiles route through `DistributedRank.ntile` (range
    * repartition + partition-offset ranking — no single-partition sort;
    * see its scaladoc); a real lakehouse writer further collapses the
    * file cut into `repartitionByRange(nFiles, z).sortWithinPartitions(z)`
    * + write — see the ZOrderLayout scaladoc. PlansSpec asserts the
    * layout QUALITY: mean per-file extent is ~1/√16 of the domain in BOTH
    * dimensions, where a single-column sort leaves the other dimension's
    * extent at ~100% — which is the whole point of the curve.
    */
  val q125 = GQuery(
    "q125_zorder_layout",
    (s, dir) => {
      import graft.sources.ZOrderLayout
      val coded = ZOrderLayout.rankCoded(Tables.orders(s, dir),
        col("o_custkey"), to_date(col("o_orderdate")), col("o_orderkey"), 256)
      ZOrderLayout.layoutStats(coded, nFiles = 16)
    },
    Some {
      val z = graft.sources.ZOrderLayout.interleaveSql("x", "y")
      s"""WITH c AS (SELECT o_orderkey,
          CAST(ntile(256) OVER (ORDER BY o_custkey, o_orderkey) - 1 AS INTEGER) AS x,
          CAST(ntile(256) OVER (ORDER BY CAST(o_orderdate AS DATE), o_orderkey) - 1 AS INTEGER) AS y
        FROM orders),
        zc AS (SELECT *, CAST($z AS BIGINT) AS z FROM c),
        f AS (SELECT *, ntile(16) OVER (ORDER BY z, o_orderkey) AS file_id FROM zc)
        SELECT CAST(file_id AS INTEGER) AS file_id, count(*) AS n,
          min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
          min(z) AS z_min, max(z) AS z_max
        FROM f GROUP BY file_id ORDER BY file_id"""
    })

  /** BPE merge-rule learning (operators.BpeMerge): 6 steps of
    * count-adjacent-pairs → argmax → fuse, word-granular, over the
    * documents corpus — distributed tokenizer TRAINING, verified end to
    * end because the doubled-delimiter replace trick makes every round's
    * corpus state engine-agnostic. The oracle is the same 6 rounds
    * unrolled as CTEs.
    */
  val q126 = GQuery(
    "q126_bpe_merges",
    (s, dir) => graft.operators.BpeMerge.mergesDf(s,
      graft.operators.BpeMerge.learn(Tables.documents(s, dir), "text", steps = 6))
      .orderBy("step"),
    Some(graft.operators.BpeMerge.oracleSql(6)))

  /** BPE tokenizer APPLICATION (the other half of the q126 lifecycle):
    * apply the learned merge table — K chained narrow string maps, zero
    * shuffles — and report per-source token compression. Token counts
    * after merging come from delimiter counting on the doubled encoding
    * (no re-split). The oracle replays the training chain and aggregates
    * the final corpus state.
    */
  val q131 = GQuery(
    "q131_bpe_apply",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.BpeMerge.applyStats(docs, "text",
        graft.operators.BpeMerge.learn(docs, "text", steps = 6))
    },
    Some(graft.operators.BpeMerge.applyOracleSql(6)))

  /** Point-in-time (PIT) enrichment against an SCD-2 dimension — the
    * composition NOTES/round-5 queued: q111 builds the versioned history,
    * plans.NativeAsOfJoin probes it. Dimension = each customer's
    * cumulative state per order DAY (version key (o_custkey, valid_from)
    * is unique by construction — the daily grain removes same-timestamp
    * version ties that would make an as-of pick ambiguous); fact = every
    * lineitem, probing at its ship date through the order's customer.
    * The question answered is the feature-store staple: "what was the
    * customer's cumulative order count / spend AS OF the moment this line
    * shipped" — with no leakage from later versions.
    *
    * Scale: the fact→orders key join shuffles on orderkey (or broadcasts
    * the order projection when it fits); the as-of itself is AsOfJoinExec's
    * one shuffle per side on custkey + one ordered in-partition merge
    * sweep — never a per-row interval scan. Cumulative spend accumulates as
    * DECIMAL(18,2) snapped to the cent grid, so the running sums are
    * exact and order-independent in both engines.
    */
  val q132 = GQuery(
    "q132_pit_enrich",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("valid_from")
      val hist = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate").as("valid_from"))
        .agg(count(lit(1)).as("n_day"),
          sum(Metrics.canonRound(col("o_totalprice"), 2).cast("decimal(18,2)")).as("sp_day"))
        .select(col("o_custkey"), col("valid_from"),
          sum("n_day").over(w).as("cum_orders"),
          sum("sp_day").over(w).cast("decimal(38,2)").as("cum_spend"))
      val fact = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_shipdate"))
      graft.plans.NativeAsOfJoin.asof(fact, hist, key = "o_custkey",
          leftTime = "l_shipdate", rightTime = "valid_from",
          rightCols = Seq("cum_orders", "cum_spend"), prefix = "pit_")
        // inner as-of semantics: the fixture has lines shipping BEFORE the
        // customer's first version (synthetic dates) — no state existed
        // yet, so they carry no PIT features and are dropped, exactly as
        // DuckDB's inner ASOF JOIN drops them
        .filter(col("pit_cum_orders").isNotNull)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"),
          sum("pit_cum_orders").as("sum_cum_orders"),
          max("pit_cum_orders").as("max_cum_orders"),
          sum("pit_cum_spend").cast("double").as("sum_cum_spend"))
        .orderBy("o_custkey")
    },
    Some("""WITH day AS (
        SELECT o_custkey, o_orderdate AS valid_from, count(*) AS n_day,
          sum(CAST(floor(o_totalprice*1e2+0.5)/1e2 AS DECIMAL(18,2))) AS sp_day
        FROM orders GROUP BY 1, 2),
      hist AS (
        SELECT o_custkey, valid_from,
          CAST(sum(n_day) OVER w AS BIGINT) AS cum_orders,
          CAST(sum(sp_day) OVER w AS DECIMAL(38,2)) AS cum_spend
        FROM day WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)),
      fact AS (
        SELECT o.o_custkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      SELECT f.o_custkey, count(*) AS n_lines,
        CAST(sum(h.cum_orders) AS BIGINT) AS sum_cum_orders,
        max(h.cum_orders) AS max_cum_orders,
        CAST(sum(h.cum_spend) AS DOUBLE) AS sum_cum_spend
      FROM fact f ASOF JOIN hist h
        ON f.o_custkey = h.o_custkey AND f.l_shipdate >= h.valid_from
      GROUP BY f.o_custkey ORDER BY f.o_custkey"""))

  /** INCREMENTAL SCD-2 maintenance — q116's MERGE composed with q111's
    * history build: the pre-cutoff history is the target, the post-cutoff
    * order batch the source. Each customer's open interval CLOSES at
    * their first new version's date, the batch's versions chain among
    * themselves and append (last one open), untouched rows pass through —
    * and every row carries its merge action (keep/close/insert) as the
    * audit witness, so the oracle proves the incremental LOGIC, not just
    * the final state. OpsSpec pins the invariant that makes incremental
    * maintenance trustworthy: merged history ≡ q111's full rebuild on
    * the shared columns.
    *
    * Scale: the target scan touches only rows needing closure via one
    * broadcast of the per-customer first-new-version dates (a customer-
    * count frame, tiny next to the history); the batch side is two
    * window passes on its own (small) slice. No full-history rewrite —
    * exactly the shape a Delta/Iceberg MERGE plans for this workload.
    */
  val q136 = GQuery(
    "q136_scd2_merge",
    (s, dir) => {
      val cutoff = "2000-01-01"
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val hist = o.filter(col("o_orderdate") < lit(cutoff))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).cast("timestamp_ntz").as("valid_to"),
          col("o_totalprice"))
      val srcRaw = o.filter(col("o_orderdate") >= lit(cutoff))
      val src = srcRaw
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("valid_from"),
          lead(col("o_orderdate"), 1).over(w).cast("timestamp_ntz").as("valid_to"),
          col("o_totalprice"))
      val firstNew = srcRaw.groupBy("o_custkey")
        .agg(min(col("o_orderdate")).cast("timestamp_ntz").as("first_new"))
      val merged = hist.join(broadcast(firstNew), Seq("o_custkey"), "left")
        .select(col("o_custkey"), col("o_orderkey"), col("valid_from"),
          coalesce(col("valid_to"), col("first_new")).as("valid_to"),
          (col("valid_to").isNull && col("first_new").isNull).cast("int").as("is_current"),
          when(col("valid_to").isNull && col("first_new").isNotNull, lit("close"))
            .otherwise(lit("keep")).as("action"),
          col("o_totalprice"))
        .unionByName(src
          .select(col("o_custkey"), col("o_orderkey"), col("valid_from"), col("valid_to"),
            col("valid_to").isNull.cast("int").as("is_current"),
            lit("insert").as("action"), col("o_totalprice")))
      merged.orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH hist AS (
        SELECT o_custkey, o_orderkey,
          CAST(o_orderdate AS TIMESTAMP) AS valid_from,
          CAST(lead(o_orderdate) OVER w AS TIMESTAMP) AS valid_to,
          o_totalprice
        FROM orders WHERE o_orderdate < DATE '2000-01-01'
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      src AS (
        SELECT o_custkey, o_orderkey,
          CAST(o_orderdate AS TIMESTAMP) AS valid_from,
          CAST(lead(o_orderdate) OVER w AS TIMESTAMP) AS valid_to,
          o_totalprice
        FROM orders WHERE o_orderdate >= DATE '2000-01-01'
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      first_new AS (
        SELECT o_custkey, CAST(min(o_orderdate) AS TIMESTAMP) AS first_new
        FROM orders WHERE o_orderdate >= DATE '2000-01-01' GROUP BY o_custkey)
      SELECT h.o_custkey, h.o_orderkey, h.valid_from,
        coalesce(h.valid_to, f.first_new) AS valid_to,
        CAST(CASE WHEN h.valid_to IS NULL AND f.first_new IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current,
        CASE WHEN h.valid_to IS NULL AND f.first_new IS NOT NULL THEN 'close' ELSE 'keep' END AS action,
        h.o_totalprice
      FROM hist h LEFT JOIN first_new f ON f.o_custkey = h.o_custkey
      UNION ALL
      SELECT o_custkey, o_orderkey, valid_from, valid_to,
        CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current,
        'insert' AS action, o_totalprice
      FROM src
      ORDER BY o_custkey, o_orderkey"""))

  /** Temperature-scaled mixture sampling (α = 0.5): q110 computes what the
    * mixture SHOULD be; this query materializes it. Per-source sampling
    * rates are derived from temperature-flattened probabilities
    * p_s ∝ n_s^α (the multilingual-LM rebalancing rule — rare sources are
    * up-weighted relative to their share), targeting half the corpus, and
    * each document's accept/reject is a pure function of its id (the q88
    * md5-uniform draw, 60-bit hash → [0,1)): reproducible under reruns,
    * repartitioning, and incremental appends — rand()-based sampling is
    * none of those.
    *
    * Scale: the rate table is a ~|sources|-row aggregate broadcast back
    * onto the scan; the accept test is a per-row hash compare inside the
    * scan projection. One shuffle (the per-source count), then map-only.
    */
  /** q141 body over any (doc_id, source) frame — factored for spec use. */
  /** The α=0.5 temperature-mixture rate table over a per-source count
    * frame `perSrc`(source, <countCol>): (source, <countCol>, samp_rate)
    * with samp_rate = min(1, 0.5·n_tot·sqrt(n)/Z/n) on the canonical
    * grids. ONE implementation for q141 and q223's stage 4 — the
    * capstone's doc promises it composes q141's rates, and the formula
    * previously lived in two hand-kept copies (review finding, r14).
    */
  private def temperatureRates(perSrc: org.apache.spark.sql.DataFrame,
      countCol: String): org.apache.spark.sql.DataFrame = {
    val withW = perSrc.withColumn("w_raw",
      Metrics.canonRound(sqrt(col(countCol).cast("double")), 4))
    val tot = withW.agg(Metrics.exactSum(col("w_raw")).as("z"),
      sum(countCol).as("n_tot"))
    withW.crossJoin(broadcast(tot))
      .select(col("source"), col(countCol),
        Metrics.canonRound(
          least(lit(1.0), lit(0.5) * col("n_tot").cast("double") * col("w_raw")
            / col("z") / col(countCol).cast("double")), 6).as("samp_rate"))
  }

  def temperatureSample(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val rates = temperatureRates(
        docs.groupBy("source").agg(count(lit(1)).as("n_docs")), "n_docs")
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
      docs.select(col("source"), u.as("u"))
        .join(broadcast(rates), "source")
        .groupBy("source", "n_docs", "samp_rate")
        .agg(sum((col("u") < col("samp_rate")).cast("long")).as("n_sampled"))
        .select(col("source"), col("n_docs"), col("samp_rate"), col("n_sampled"),
          Metrics.canonRound(col("n_sampled").cast("double")
            / col("n_docs").cast("double"), 4).as("real_rate"))
        .orderBy("source")
  }

  val q141 = GQuery(
    "q141_temperature_sample",
    (s, dir) => temperatureSample(Tables.documents(s, dir)),
    Some("""WITH src AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      w AS (SELECT source, n_docs,
          floor(sqrt(CAST(n_docs AS DOUBLE))*1e4+0.5)/1e4 AS w_raw FROM src),
      tot AS (SELECT
          CAST(sum(CAST(floor(w_raw*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE) AS z,
          CAST(sum(n_docs) AS BIGINT) AS n_tot FROM w),
      rates AS (SELECT source, n_docs,
          floor(least(1.0, 0.5*CAST(n_tot AS DOUBLE)*w_raw/z/CAST(n_docs AS DOUBLE))*1e6+0.5)/1e6
            AS samp_rate
        FROM w, tot),
      d AS (SELECT source,
          CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
            / 1152921504606846976.0 AS u
        FROM documents),
      acc AS (SELECT d.source, r.n_docs, r.samp_rate,
          CAST(d.u < r.samp_rate AS INT) AS a
        FROM d JOIN rates r USING (source))
      SELECT source, n_docs, samp_rate,
        CAST(sum(a) AS BIGINT) AS n_sampled,
        floor(CAST(sum(a) AS DOUBLE)/CAST(n_docs AS DOUBLE)*1e4+0.5)/1e4 AS real_rate
      FROM acc GROUP BY source, n_docs, samp_rate ORDER BY source"""))

  /** Curriculum-ordering manifest: rank the corpus for training by quality
    * bucket (q42's scorer, shared formula) with a DETERMINISTIC shuffle
    * inside each bucket (seeded md5 — the q120 shard-export draw), so
    * "easy/clean first" curricula are reproducible artifacts, not a
    * property of whatever order the scan produced. Output is the manifest
    * a loader consumes: (doc_id, quality, bucket, rank).
    *
    * Scale note: the bucket ntile and the manifest rank both route
    * through `DistributedRank` (range repartition + partition-offset
    * ranking — see its scaladoc), so the manifest never funnels through
    * a single-partition sort; the orders are total (doc_id tie-break),
    * so the output is byte-identical to the old window form.
    */
  def curriculumManifest(docs: DataFrame, nBuckets: Int, seed: String): DataFrame = {
    val q = Metrics.canonRound(TextQueries.qualityExpr(TextQueries.tokens(col("text"))), 4)
    val sh = md5(concat(lit(seed), col("doc_id").cast("string")))
    val scored = docs.select(col("doc_id"), q.as("quality"))
    val bucketed = DistributedRank.ntile(scored,
      Seq(col("quality").desc, col("doc_id").asc), nBuckets, "bucket")
      .withColumn("sh", sh)
    DistributedRank.rowNumber(bucketed,
        Seq(col("bucket").asc, col("sh").asc, col("doc_id").asc), "rank")
      .select(col("doc_id"), col("quality"), col("bucket"), col("rank").cast("int").as("rank"))
      .orderBy("rank")
  }

  val q147 = GQuery(
    "q147_curriculum_order",
    (s, dir) => curriculumManifest(Tables.documents(s, dir), 4, "cur1"),
    Some(s"""WITH ${TextQueries.qualityScoreSqlCte},
      b AS (
        SELECT doc_id, q AS quality,
          ntile(4) OVER (ORDER BY q DESC, doc_id ASC) AS bucket
        FROM qscore),
      sdraw AS (
        SELECT doc_id, quality, bucket,
          md5('cur1' || CAST(doc_id AS VARCHAR)) AS sh
        FROM b)
      SELECT doc_id, quality, CAST(bucket AS INT) AS bucket,
        CAST(row_number() OVER (ORDER BY bucket ASC, sh ASC, doc_id ASC) AS INT) AS rank
      FROM sdraw ORDER BY rank"""))

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): per source, the top-5
    * docs by the ES key u^(1/w) — here compared in log space, ln(u)/w —
    * with w = n_chars and u a deterministic md5-uniform (q141's 60-bit
    * scheme, +1 so u ∈ (0, 2⁶⁰]/2⁶⁰ and ln never sees 0). One pass, no
    * rejection loop, reproducible under reruns/repartition/appends; the
    * standard trick for "sample k docs per source, longer docs
    * proportionally more likely".
    *
    * Determinism: keys are compared on a 1e-8 BIGINT grid with doc_id as
    * the total tie-break, so the per-source top-5 is engine-exact.
    * Scale: one scan computing the key + a per-source top-k window (at
    * 100 TB the window swaps for the bounded-heap TopK Aggregator the
    * way q79 does — same result set).
    */
  def esWeightedSample(docs: DataFrame, perSource: Int): DataFrame = {
    val u = (conv(substring(md5(concat(lit("es1"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") + 1L).cast("double") / lit(1152921504606846976.0) // 2^60
    val z = log(u) / col("n_chars").cast("double") * 1e8 + 0.5
    val keyg = floor(z).cast("long")
    // Loud boundary guard (the SuffixRanks alphabet-guard pattern):
    // ln() is NOT correctly rounded (JVM Math.log and DuckDB's libm may
    // differ in the last ulp), so the 1e-8-unit snap could flip a key
    // sitting within ~1e-8 grid units of its floor boundary — an
    // intermittent oracle hash mismatch (review finding, r14). SCOPE
    // (r15, caught by the full 10× cert): the min margin over ALL keys
    // shrinks like 1/n with corpus size, so the original whole-corpus
    // require was guaranteed to fire on any large corpus while guarding
    // mostly keys that cannot change the answer. Only keys that can
    // affect the per-source top-k are checked instead: a ±1 flip
    // changes the output iff the key's keyg lands at or above
    // (rank-k keyg − 1), so that set — O(k · |sources|), independent of
    // corpus size — is exactly the guard's scope. Sources with fewer
    // than `perSource` rows have every row output and every row checked.
    val keyed = docs.select(col("source"), col("doc_id"), col("n_chars"),
      keyg.as("keyg"), (z - floor(z)).as("frac"))
    val w = Window.partitionBy("source").orderBy(col("keyg").desc, col("doc_id").asc)
    // cached: the windowed frame feeds THREE consumers (the kg_b
    // broadcast build, the margin probe, and the returned sample) —
    // uncached, each re-pays the full per-source shuffle + sort
    // (follow-up review finding, r15; the capBuckets rule)
    val ranked = keyed.withColumn("rank", row_number().over(w)).cache()
    val kgB = ranked.filter(col("rank") === perSource)
      .select(col("source"), col("keyg").as("kg_b"))
    val m = ranked.join(broadcast(kgB), Seq("source"), "left")
      .filter(col("keyg") >= coalesce(col("kg_b"), lit(Long.MinValue + 1)) - 1)
      .agg(min(least(col("frac"), lit(1.0) - col("frac")))).head
    val margin = if (m.isNullAt(0)) 1.0 else m.getDouble(0)
    require(margin > 1e-4,
      f"a top-k-adjacent weighted-sample key sits $margin%.2e from its 1e-8 snap " +
        "boundary — cross-engine ln() ulp could flip it; regenerate or widen the grid")
    ranked.filter(col("rank") <= perSource)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy("source", "rank")
  }

  val q156 = GQuery(
    "q156_weighted_sample",
    (s, dir) => esWeightedSample(Tables.documents(s, dir), perSource = 5),
    Some("""WITH keyed AS (
        SELECT source, doc_id, n_chars,
          CAST(floor(ln((CAST(CAST(('0x' || substr(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1)
                        / 1152921504606846976.0)
                     / CAST(n_chars AS DOUBLE) * 1e8 + 0.5) AS BIGINT) AS keyg
        FROM documents),
      ranked AS (
        SELECT source, doc_id, n_chars,
          CAST(row_number() OVER (PARTITION BY source ORDER BY keyg DESC, doc_id ASC) AS INTEGER) AS rank
        FROM keyed)
      SELECT source, rank, doc_id, n_chars FROM ranked
      WHERE rank <= 5 ORDER BY source, rank"""))

  /** Three-way train/val/test split audit: the 80/10/10 deterministic
    * hash split (md5-uniform, seeded — q55's two-way split generalized)
    * with the per-source balance report a pipeline checks before
    * training: counts and realized fractions per split. A source whose
    * realized fraction drifts far from 0.8/0.1/0.1 is small enough that
    * per-source stratified splitting should replace the global hash —
    * exactly what this audit decides.
    *
    * Scale: one scan + one (source) hash agg of conditional sums; the
    * assignment column is a pure function of doc_id, so the split is
    * stable under appends and across engines.
    */
  def threeWaySplitAudit(docs: DataFrame): DataFrame = {
    val u = conv(substring(md5(concat(lit("sp3"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0)
    val n = col("n_docs").cast("double")
    docs.select(col("source"), u.as("u"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("u") < 0.8).cast("long")).as("n_train"),
        sum((col("u") >= 0.8 && col("u") < 0.9).cast("long")).as("n_val"),
        sum((col("u") >= 0.9).cast("long")).as("n_test"))
      .select(col("source"), col("n_docs"), col("n_train"), col("n_val"), col("n_test"),
        Metrics.canonRound(col("n_train").cast("double") / n, 4).as("frac_train"),
        Metrics.canonRound(col("n_val").cast("double") / n, 4).as("frac_val"),
        Metrics.canonRound(col("n_test").cast("double") / n, 4).as("frac_test"))
      .orderBy("source")
  }

  val q157 = GQuery(
    "q157_threeway_split",
    (s, dir) => threeWaySplitAudit(Tables.documents(s, dir)),
    Some("""WITH d AS (
        SELECT source,
          CAST(CAST(('0x' || substr(md5('sp3' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
            / 1152921504606846976.0 AS u
        FROM documents),
      agg AS (
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN u < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
          CAST(sum(CASE WHEN u >= 0.8 AND u < 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
          CAST(sum(CASE WHEN u >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM d GROUP BY source)
      SELECT source, n_docs, n_train, n_val, n_test,
        floor(CAST(n_train AS DOUBLE)/CAST(n_docs AS DOUBLE)*1e4+0.5)/1e4 AS frac_train,
        floor(CAST(n_val AS DOUBLE)/CAST(n_docs AS DOUBLE)*1e4+0.5)/1e4 AS frac_val,
        floor(CAST(n_test AS DOUBLE)/CAST(n_docs AS DOUBLE)*1e4+0.5)/1e4 AS frac_test
      FROM agg ORDER BY source"""))

  /** The CAPSTONE composition — a full C4/RefinedWeb-style curation pass
    * as ONE hash-verified query, proving the individually-oracled stages
    * actually compose: eval holdout (q109's doc_id%17 convention) →
    * quality gate (q42/q112's scorer at a fixed 0.15 threshold, rounded
    * BEFORE the compare — drops ~13% at every SF) → exact dedup (q40's
    * min-doc_id-per-md5 survivor rule) → decontamination (q109's
    * distinct-8-gram overlap with the eval set, here as a full DROP, not
    * a rate) → temperature-scaled mixture sampling (q141's α=0.5 rates
    * recomputed on the POST-decontamination per-source counts, md5-
    * uniform accept) → per-source funnel manifest with kept-token sums
    * and a commutative bit_xor doc_id digest (q210's order-independent
    * witness). A user running "the whole pipeline" runs THIS dataflow;
    * every intermediate frame is one of the library's audited shapes.
    *
    * Scale: each stage is scan → hash agg / hash join of the shapes
    * already certified piecewise (quality = codegen scan; dedup = fp
    * group-by; decontam = distinct-gram equi join with the small bench
    * side; sampling = broadcast rate table); the funnel counts are five
    * map-side-combinable aggs over shrinking frames.
    */
  val q223 = GQuery(
    "q223_curation_pipeline",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 17 === 0)
      val train = docs.filter(col("doc_id") % 17 =!= 0)
      // stage 1: quality gate (rounded score, q112's discipline)
      val toks = TextQueries.tokens(col("text"))
      val qual = train
        .withColumn("q", Metrics.canonRound(TextQueries.qualityExpr(toks), 4))
        .filter(col("q") >= 0.15)
      // stage 2: exact dedup — min doc_id survives per content hash.
      // Cached + eager (capBuckets' rule): three consumers (the gram
      // explode, the anti-join base, the funnel count) would each re-run
      // the scan → tokenize/quality → md5 self-join chain.
      val fp = qual.withColumn("fp", md5(col("text")))
      val dedup = fp.join(
          fp.groupBy("fp").agg(min(col("doc_id")).as("keep_id")), "fp")
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("source"), col("text"))
        .cache()
      dedup.count()
      // stage 3: decontamination — any distinct 8-gram shared with eval.
      // The bench side needs only the gram SET: project to the hash
      // before the single distinct (no doc_id-level distinct first).
      val benchGrams = evalSet
        .select(call_function("graft_ngrams", col("text"), lit(8)).as("g"))
        .select(xxhash64(col("g")).as("ng")).distinct()
      val docGrams = dedup
        .select(col("doc_id"), call_function("graft_ngrams", col("text"), lit(8)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("ng")).distinct()
      val contaminatedIds = docGrams.join(benchGrams, "ng")
        .select("doc_id").distinct()
      // cached + eager: FIVE consumers (rate table twice, the sampling
      // scan, the funnel count, the kept aggregation) read this frame
      val clean = dedup.join(contaminatedIds, Seq("doc_id"), "left_anti").cache()
      clean.count()
      // stage 4: temperature mixture sampling on the cleaned counts —
      // the rate table is q141's temperatureRates, not a copy
      val rates = temperatureRates(
        clean.groupBy("source").agg(count(lit(1)).as("n_clean")), "n_clean")
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long").cast("double") / lit(1152921504606846976.0)
      val sampled = clean.withColumn("u", u)
        .join(broadcast(rates.select("source", "samp_rate")), "source")
        .filter(col("u") < col("samp_rate"))
      // funnel manifest per source (left joins: a source may lose all docs)
      def cnt(d: DataFrame, as: String) =
        d.groupBy("source").agg(count(lit(1)).as(as))
      val kept = sampled.groupBy("source")
        .agg(count(lit(1)).as("n_sampled"),
          sum(size(TextQueries.tokens(col("text"))).cast("long")).as("kept_tokens"),
          bit_xor(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")).as("kept_digest"))
      cnt(train, "n_raw")
        .join(cnt(qual, "n_quality"), Seq("source"), "left")
        .join(cnt(dedup, "n_dedup"), Seq("source"), "left")
        .join(cnt(clean, "n_clean"), Seq("source"), "left")
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("kept_digest"), lit(0L)).as("kept_digest"))
        .orderBy("source")
    },
    Some {
      val stop = TextQueries.stopwords.map(w => s"'$w'").mkString(",")
      s"""WITH train AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id % 17 <> 0),
      ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0),
      qs AS (
        SELECT doc_id, source, text,
          floor((least(tok_n / 100.0, 1.0) * (1.0 - stop_n / tok_n) * (uniq_n / tok_n))
            * 1e4 + 0.5) / 1e4 AS q
        FROM (
          SELECT doc_id, source, text,
            CAST(len(string_split(text, ' ')) AS DOUBLE) AS tok_n,
            CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stop))) AS DOUBLE)
              AS stop_n,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq_n
          FROM train) t),
      qual AS (SELECT doc_id, source, text FROM qs WHERE q >= 0.15),
      dd AS (
        SELECT q2.doc_id, q2.source, q2.text
        FROM (SELECT *, md5(text) AS fp FROM qual) q2
        JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep_id
              FROM qual GROUP BY 1) k
          ON k.fp = q2.fp AND k.keep_id = q2.doc_id),
      bg AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 7),
            i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS ng
        FROM ev),
      dg AS (
        SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(string_split(text, ' ')) - 7),
            i -> array_to_string(string_split(text, ' ')[i:i+7], ' ')))) AS ng
        FROM dd),
      contam AS (SELECT DISTINCT d.doc_id FROM dg d JOIN bg b ON d.ng = b.ng),
      clean AS (
        SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      ps AS (
        SELECT source, count(*) AS n_clean,
          floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS w_raw
        FROM clean GROUP BY source),
      tot AS (
        SELECT CAST(sum(CAST(floor(w_raw * 1e4 + 0.5) / 1e4 AS DECIMAL(18,4))) AS DOUBLE)
            AS z,
          CAST(sum(n_clean) AS BIGINT) AS n_tot
        FROM ps),
      rates AS (
        SELECT source,
          floor(least(1.0, 0.5 * CAST(n_tot AS DOUBLE) * w_raw / z
            / CAST(n_clean AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS samp_rate
        FROM ps, tot),
      samp AS (
        SELECT c.doc_id, c.source, c.text
        FROM clean c JOIN rates r USING (source)
        WHERE CAST(CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            AS DOUBLE) / 1152921504606846976.0 < r.samp_rate),
      kept AS (
        SELECT source, count(*) AS n_sampled,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS kept_tokens,
          bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT))
            AS kept_digest
        FROM samp GROUP BY source),
      cr AS (SELECT source, count(*) AS n_raw FROM train GROUP BY source),
      cq AS (SELECT source, count(*) AS n_quality FROM qual GROUP BY source),
      cd AS (SELECT source, count(*) AS n_dedup FROM dd GROUP BY source),
      cc AS (SELECT source, count(*) AS n_clean FROM clean GROUP BY source)
      SELECT cr.source, cr.n_raw,
        coalesce(cq.n_quality, 0) AS n_quality,
        coalesce(cd.n_dedup, 0) AS n_dedup,
        coalesce(cc.n_clean, 0) AS n_clean,
        coalesce(k.n_sampled, 0) AS n_sampled,
        coalesce(k.kept_tokens, 0) AS kept_tokens,
        coalesce(k.kept_digest, 0) AS kept_digest
      FROM cr
      LEFT JOIN cq USING (source)
      LEFT JOIN cd USING (source)
      LEFT JOIN cc USING (source)
      LEFT JOIN kept k USING (source)
      ORDER BY cr.source"""
    })

  def all: Seq[GQuery] = Seq(q108, q109, q110, q111, q112, q113, q114, q119, q120,
    q125, q126, q131, q132, q136, q141, q147, q156, q157, q223)
}
