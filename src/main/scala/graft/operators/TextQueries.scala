package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.registry.GQuery

/** Text-analysis operators over the `documents` fixture: tokenization,
  * quality scoring, language-ID heuristic, fingerprinting, exact dedup
  * (the training-data-pipeline surface the north star asks for).
  *
  * All token math uses codegen'd higher-order functions (split / transform /
  * filter / aggregate) — no UDFs, so per-document work distributes with the
  * scan and never shuffles until the final aggregate.
  */
object TextQueries {

  def tokens(text: Column): Column = split(text, " ")

  /** Common English stopwords present in the fixture vocabulary. */
  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private def stopArray = array(stopwords.map(lit): _*)

  /** Exact near-zero-cost dedup: hash-groupBy on content (md5 so the
    * shuffle key is 16 bytes, not the document body — the thing that
    * matters at 100 TB).
    */
  val q40 = GQuery(
    "q40_exact_dedup",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keep_id"""))

  /** Token statistics per document (token counting, SURVEY north-star). */
  val q41 = GQuery(
    "q41_token_stats",
    (s, dir) => {
      val t = tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(t).as("n_tokens"),
          // BPE-ish regex tokenizer: words OR single non-space symbols
          size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0)))
            .as("n_tokens_regex"),
          size(array_distinct(t)).as("n_uniq_tokens"),
          graft.functions.Metrics.canonRound(aggregate(transform(t, x => length(x).cast("double")),
            lit(0.0), (acc, x) => acc + x) / size(t), 4).as("avg_token_len"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_tokens_regex,
      CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_uniq_tokens,
      floor((list_sum(list_transform(string_split(text, ' '), x -> CAST(length(x) AS DOUBLE)))
            / len(string_split(text, ' '))) * 1e4 + 0.5)/1e4 AS avg_token_len
      FROM documents ORDER BY doc_id"""))

  /** Heuristic quality score: stopword ratio, type-token ratio, length —
    * the length/punct/stopword-ratio style scorer the north star lists.
    */
  /** q42's quality-score expression over a token array — factored so the
    * q112 percentile gate scores with the exact same formula (drift
    * between the scorer and the gate would silently pass both oracles
    * while gating on a different quantity).
    */
  def qualityExpr(t: Column): Column = {
    val nTok = size(t).cast("double")
    val nStop = size(filter(t, x => array_contains(stopArray, x))).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / nTok
    val stopRatio = nStop / nTok
    least(nTok / 100.0, lit(1.0)) * (lit(1.0) - stopRatio) * ttr
  }

  /** DuckDB CTE body mirroring qualityExpr, canonically rounded: yields
    * `qscore(doc_id, lang, q)`. Shared by the q112 oracle.
    */
  def qualityScoreSqlCte: String = s"""qscore AS (
      SELECT doc_id, lang,
        floor((least(tok_n / 100.0, 1.0) * (1.0 - stop_n / tok_n) * (uniq_n / tok_n)) * 1e4 + 0.5)/1e4 AS q
      FROM (
        SELECT doc_id, lang,
          CAST(len(string_split(text,' ')) AS DOUBLE) AS tok_n,
          CAST(len(list_filter(string_split(text,' '),
               x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) AS stop_n,
          CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS uniq_n
        FROM documents) t)"""

  val q42 = GQuery(
    "q42_quality_score",
    (s, dir) => {
      val t = tokens(col("text"))
      val nTok = size(t).cast("double")
      val nStop = size(filter(t, x => array_contains(stopArray, x))).cast("double")
      val ttr = size(array_distinct(t)).cast("double") / nTok
      val stopRatio = nStop / nTok
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.functions.Metrics.canonRound(stopRatio, 4).as("stop_ratio"),
          graft.functions.Metrics.canonRound(ttr, 4).as("type_token_ratio"),
          graft.functions.Metrics.canonRound(qualityExpr(t), 4)
            .as("quality_score"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, lang,
      floor((stop_n / tok_n) * 1e4 + 0.5)/1e4 AS stop_ratio,
      floor((uniq_n / tok_n) * 1e4 + 0.5)/1e4 AS type_token_ratio,
      floor((least(tok_n / 100.0, 1.0) * (1.0 - stop_n / tok_n) * (uniq_n / tok_n)) * 1e4 + 0.5)/1e4 AS quality_score
      FROM (
        SELECT doc_id, lang,
          CAST(len(string_split(text,' ')) AS DOUBLE) AS tok_n,
          CAST(len(list_filter(string_split(text,' '),
               x -> x IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) AS stop_n,
          CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS uniq_n
        FROM documents) t
      ORDER BY doc_id"""))

  /** Canonical-form fingerprint dedup: md5 over the sorted distinct token
    * set — catches reorder-only near-duplicates exactly.
    */
  val q43 = GQuery(
    "q43_fingerprint",
    (s, dir) => {
      val fp = md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text"))))))
      Tables.documents(s, dir)
        .groupBy(fp.as("fingerprint"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("keep_id")
    },
    Some("""SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fingerprint,
      min(doc_id) AS keep_id, count(*) AS n_docs
      FROM documents
      GROUP BY 1 ORDER BY keep_id"""))

  /** Corpus rollup by language × source. */
  val q44 = GQuery(
    "q44_lang_source_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          graft.functions.Metrics.canonRound(avg("n_chars"), 4).as("avg_chars"),
          graft.functions.Metrics.canonRound(avg(size(tokens(col("text")))), 4).as("avg_tokens"))
        .orderBy("lang", "source"),
    Some("""SELECT lang, source, count(*) AS n_docs,
      floor((avg(n_chars)) * 1e4 + 0.5)/1e4 AS avg_chars,
      floor((avg(len(string_split(text,' ')))) * 1e4 + 0.5)/1e4 AS avg_tokens
      FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Language-ID profiles: per-language function-word sets. The fixture
    * vocabulary is English-ish for every `lang` value, so the heuristic's
    * ACCURACY isn't the point — the deterministic multi-profile argmax
    * dataflow is.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** Language-ID heuristic: stopword-profile density per language, argmax
    * with a fixed preference order (deterministic tie-break) and an 'und'
    * floor — the n-gram-profile classifier shape at whole-corpus scale.
    */
  val q45 = GQuery(
    "q45_langid",
    (s, dir) => {
      // explode once → conditional map-side-combined aggregates: the text
      // is tokenized exactly once per document (the per-column filter-HOF
      // form re-split it per language profile — invariant 7/8 in NOTES.md)
      // and the shuffle carries one 6-number row per document.
      val ex = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val aggs = langProfiles.map { case (lang, words) =>
        sum(when(col("tok").isin(words: _*), 1L).otherwise(0L))
          .cast("double").as(s"c_$lang")
      } :+ count(lit(1)).cast("double").as("n")
      // left join back to the doc list: a NULL text explodes to zero rows
      // and would silently drop the document, where the oracle (and the
      // previous per-row form) keep it with NULL scores and pred 'und'.
      // No such docs exist in the fixtures — this guards the semantics.
      val counted = Tables.documents(s, dir).select("doc_id")
        .join(ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*), Seq("doc_id"), "left")
      val scores = langProfiles.map { case (lang, _) =>
        lang -> (col(s"c_$lang") / col("n"))
      }
      val pred = scores.foldRight(lit("und"): Column) { case ((lang, sc), rest) =>
        val beatsAll = scores.filter(_._1 != lang)
          .map { case (_, other) => sc >= other }
          .reduce(_ && _)
        when(beatsAll && sc > 0.02, lang).otherwise(rest)
      }
      counted
        .select(col("doc_id") +:
          scores.map { case (l, sc) =>
            graft.functions.Metrics.canonRound(sc, 4).as(s"score_$l") } :+
          pred.as("lang_pred"): _*)
        .orderBy("doc_id")
    },
    Some {
      def inList(words: Seq[String]) = words.map(w => s"'$w'").mkString(",")
      val scoreCols = langProfiles.map { case (l, ws) =>
        s"""CAST(len(list_filter(toks, x -> x IN (${inList(ws)}))) AS DOUBLE) / len(toks) AS s_$l"""
      }.mkString(",\n          ")
      val langs = langProfiles.map(_._1)
      val caseArms = langs.map { l =>
        val beats = langs.filterNot(_ == l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $beats AND s_$l > 0.02 THEN '$l'"
      }.mkString("\n        ")
      s"""SELECT doc_id,
        ${langs.map(l => s"floor((s_$l) * 1e4 + 0.5)/1e4 AS score_$l").mkString(",\n        ")},
        CASE $caseArms ELSE 'und' END AS lang_pred
      FROM (
        SELECT doc_id,
          $scoreCols
        FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)) t
      ORDER BY doc_id"""
    })

  /** Word-bigram shingles for Jaccard / MinHash. Guarded for < 2 tokens:
    * sequence(1, 0) would count DOWN to [1, 0] and element_at(toks, 0)
    * always throws — a one-token document must yield an empty shingle set.
    */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** The q46/q161 sampled hashed-shingle pair frame: every same-lang
    * pair (id_a < id_b) of the doc_id % 10 sample, with the hashed
    * distinct-bigram shingle arrays of both sides as sh_a/sh_b. ONE
    * constructor for both similarity baselines so the sampling rate and
    * hashing scheme cannot drift between them (review finding, r14).
    *
    * Shingles are compared as xxhash64 LONGs: array_intersect on a
    * primitive type takes the OpenHashSet fast path and each array is
    * 8 bytes/element instead of a ~15-char string — the per-pair
    * intersection is what the O(n²) join pays for. (A 64-bit collision
    * between two shingles of one compared pair would perturb one count;
    * at ~10⁵ shingle pairs per corpus the chance is ~1e-9 and the
    * oracle gate would surface it.)
    */
  private def sampledShinglePairs(docs: DataFrame): DataFrame = {
    val d = docs
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"),
        transform(array_distinct(bigrams(tokens(col("text")))), sh => xxhash64(sh)).as("sh"))
    val a = d.select(col("doc_id").as("id_a"), col("lang"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("lang").as("lang_b"), col("sh").as("sh_b"))
    a.join(b, col("lang") === col("lang_b") && col("id_a") < col("id_b"))
  }

  /** Brute-force n-gram Jaccard near-dup on a deterministic sample (the
    * exact-verification baseline; the scale path is MinHash/LSH in
    * DedupQueries — brute force is O(n²) and only run on samples).
    */
  val q46 = GQuery(
    "q46_ngram_jaccard",
    (s, dir) => {
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
      sampledShinglePairs(Tables.documents(s, dir))
        .select(col("id_a"), col("id_b"), graft.functions.Metrics.canonRound(inter / uni, 4).as("jaccard"))
        .filter(col("jaccard") > 0.03)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS sh
        FROM documents WHERE doc_id % 10 = 0)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1e4 + 0.5)/1e4 AS jaccard
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      -- filter the ROUNDED value, matching the Spark side (and q161's
      -- convention): filtering the raw ratio here would diverge on pairs
      -- whose raw jaccard sits in (0.03, 0.03005) — rounded to 0.0300,
      -- kept by raw>0.03, dropped by rounded>0.03 (review finding, r14)
      WHERE floor((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))) * 1e4 + 0.5)/1e4 > 0.03
      ORDER BY id_a, id_b"""))

  /** Rolling-hash document fingerprint (winnowing/CDC style): hash every
    * 8-char window, keep the ~1/16 whose hash starts with '0' (content-
    * defined selection), fingerprint = md5 of the sorted selected hashes.
    * Robust to local edits — only windows near the edit change. md5 is the
    * rolling hash here because it is bit-identical across engines, which
    * makes the whole pipeline oracle-checkable.
    */
  val q49 = GQuery(
    "q49_rolling_fingerprint",
    (s, dir) => {
      // explode → codegen'd md5 → filter → collect_set, instead of a
      // transform/filter HOF pair (CodegenFallback, and re-evaluated per
      // consuming column): the window hashes are computed exactly once and
      // the selective filter runs BEFORE the shuffle, so only the ~1/16
      // anchor windows move. Docs with zero anchors rejoin via left join.
      val k = 8
      val docs = Tables.documents(s, dir)
      val anchors = docs
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1)))).as("i"),
          col("text"))
        .select(col("doc_id"), md5(col("text").substr(col("i"), lit(k))).as("h"))
        .filter(col("h").startsWith("0"))
        .groupBy("doc_id")
        .agg(sort_array(collect_set(col("h"))).as("sel"))
      docs.select("doc_id").join(anchors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(size(col("sel")), lit(0)).as("n_anchors"),
          md5(coalesce(concat_ws("", col("sel")), lit(""))).as("fingerprint"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
        SELECT doc_id,
          list_sort(list_distinct(list_filter(
            list_transform(generate_series(1, greatest(strlen(text) - 7, 1)),
                           i -> md5(substr(text, i, 8))),
            h -> h LIKE '0%'))) AS sel
        FROM documents)
      SELECT doc_id, CAST(len(sel) AS INTEGER) AS n_anchors,
             md5(coalesce(list_aggregate(sel, 'string_agg', ''), '')) AS fingerprint
      FROM w ORDER BY doc_id"""))

  /** Deterministic hash-based train/holdout split (Sampling.hashSplit):
    * 75/25 on md5(doc_id), per-language counts of each side. Stable under
    * reruns/repartitioning/data growth — unlike rand()-based splits.
    */
  val q55 = GQuery(
    "q55_hash_split",
    (s, dir) => {
      val (train, holdout) = Sampling.hashSplit(Tables.documents(s, dir), "doc_id", 12)
      train.groupBy("lang").agg(count(lit(1)).as("n_train"))
        .join(holdout.groupBy("lang").agg(count(lit(1)).as("n_holdout")), Seq("lang"), "full")
        .select(col("lang"),
          coalesce(col("n_train"), lit(0L)).as("n_train"),
          coalesce(col("n_holdout"), lit(0L)).as("n_holdout"))
        .orderBy("lang")
    },
    Some("""WITH b AS (
        SELECT lang,
          CASE WHEN substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null')), 1, 1) < 'c' THEN 1 ELSE 0 END AS is_train
        FROM documents)
      SELECT lang,
        CAST(sum(is_train) AS BIGINT) AS n_train,
        CAST(sum(1 - is_train) AS BIGINT) AS n_holdout
      FROM b GROUP BY lang ORDER BY lang"""))

  /** Top-5 terms per language by document frequency: explode distinct
    * tokens → (lang, token) counts (map-side combined) → per-language
    * ranking window over the small aggregate. The heavy explode never
    * reaches the window — only ~|vocab|×|langs| rows do.
    */
  val q78 = GQuery(
    "q78_top_terms",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("df").desc, col("term"))
      Tables.documents(s, dir)
        .select(col("lang"), explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("term"), col("df"), col("rank").cast("int").as("rank"))
        .orderBy("lang", "rank")
    },
    Some("""WITH t AS (
        SELECT lang, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents),
      c AS (SELECT lang, term, count(*) AS df FROM t GROUP BY 1, 2),
      r AS (SELECT lang, term, df,
              row_number() OVER (PARTITION BY lang ORDER BY df DESC, term) AS rank
            FROM c)
      SELECT lang, term, df, CAST(rank AS INTEGER) AS rank
      FROM r WHERE rank <= 5 ORDER BY lang, rank"""))

  /** Fuzzy entity matching: blocked levenshtein self-join on part names.
    * Blocking on (p_brand, p_type) turns the O(n²) all-pairs comparison
    * into per-block quadratics — the standard entity-resolution shape. At
    * 100 TB the blocking key IS the scalability knob (brand alone left 8M
    * candidate pairs at sf0.1 and the edit distance dominated the query;
    * the two-column block cuts that 6× while keeping within-block matches
    * at every fixture SF), and a too-hot block shows up
    * like an LSH bucket blowup, handled the same way: cap or sub-block.
    * The edit distance uses Spark's thresholded levenshtein(l, r, k) —
    * banded DP that abandons a pair once the distance exceeds k, so cost
    * per pair is O(k·len) not O(len²).
    *
    * Two sub-quadratic upgrades ride on top of the block (r13 verdict
    * item 3), both recall-lossless:
    *
    *  1. '''Comparison deduplication''' (the Splink term-frequency
    *     trick): dist(a, b) depends only on the name STRINGS, so the
    *     expensive compare runs once per DISTINCT in-block value pair —
    *     a self-join of the (block, name) vocabulary frame — and the
    *     qualifying value pairs then join back to enumerate id pairs.
    *     The r13 scale run measured why this matters: the fixture (like
    *     any saturated entity domain) has a CLOSED name vocabulary (64
    *     values at sf0.1×10 over 200k rows), so record-pair candidates
    *     grow quadratically (268M at 10×, 72× wall) while value-pair
    *     candidates stay at vocabulary² (≤4k) and the join-back does
    *     output-proportional work — the only quadratic left is the
    *     answer itself (replica clones really are mutual matches).
    *  2. '''Length band IN THE VALUE-JOIN KEY''': dist ≤ 3 forces
    *     |len(a) − len(b)| ≤ 3, so with width-4 length buckets a
    *     qualifying pair's buckets differ by ≤ 1; side a emits its own
    *     bucket, side b {lb−1, lb, lb+1} — each qualifying value pair
    *     meets on exactly one key (no distinct pass needed). On an OPEN
    *     vocabulary (distinct values ≈ rows, where dedup buys nothing)
    *     this bounds the value self-join exactly the way Ed-Join's
    *     first filter intends; the post-join |len diff| ≤ 3 stays as
    *     the in-band refinement.
    *
    * Pair-emission correctness: same-name value rows (a = b) enumerate
    * each id pair once via id_a < id_b; distinct-name value rows appear
    * in both orientations but only the orientation with id_a < id_b
    * survives — so the output is byte-identical to the exhaustive
    * blocked join (the oracle is exactly that).
    */
  val q85 = GQuery(
    "q85_fuzzy_match",
    (s, dir) => {
      val p = Tables.part(s, dir).select(
        col("p_partkey"), col("p_brand"), col("p_type"), col("p_name"))
      def lbOf(c: org.apache.spark.sql.Column) = floor(length(c) / 4).cast("int")
      // in-block name vocabulary: the compare runs on THIS, never on rows
      val v = p.select(col("p_brand"), col("p_type"), col("p_name")).distinct()
      val va = v.select(col("p_brand"), col("p_type"),
        lbOf(col("p_name")).as("lb"), col("p_name").as("name_a"))
      val vb = v.select(col("p_brand"), col("p_type"),
        explode(array(lbOf(col("p_name")) - 1, lbOf(col("p_name")),
          lbOf(col("p_name")) + 1)).as("lb"),
        col("p_name").as("name_b"))
      val vq = va.join(vb, Seq("p_brand", "p_type", "lb"))
        .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 3)
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 3))
        .filter(col("dist") >= 0) // thresholded form returns -1 past k
        .select(col("p_brand"), col("p_type"), col("name_a"), col("name_b"), col("dist"))
      val ia = p.select(col("p_brand"), col("p_type"),
        col("p_name").as("name_a"), col("p_partkey").as("id_a"))
      val ib = p.select(col("p_brand"), col("p_type"),
        col("p_name").as("name_b"), col("p_partkey").as("id_b"))
      vq.join(ia, Seq("p_brand", "p_type", "name_a"))
        .join(ib, Seq("p_brand", "p_type", "name_b"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("p_brand"), col("dist"))
        .orderBy("id_a", "id_b")
    },
    Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        a.p_brand AS p_brand,
        CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
           AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3
      ORDER BY id_a, id_b"""))

  /** Novelty filter against a reference corpus: incoming documents
    * (src0-src3) whose canonical token-set fingerprint does not appear in
    * the reference corpus (src4+), via the bloom-prefiltered exact anti
    * join (operators.BloomJoin — see there for the scale story). The
    * oracle is the plain NOT EXISTS anti join: bloom pruning must be
    * semantically invisible.
    */
  val q86 = GQuery(
    "q86_bloom_novelty",
    (s, dir) => {
      val fp = md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text"))))))
      // cached + eager: the fingerprint is the expensive per-row
      // expression here and BloomJoin.anti's split (definite ∪ confirmed)
      // plus the bloom build would otherwise re-derive it 4× from the
      // scan. Ownership: perfbench/TimeQuery clear per query.
      val d = Tables.documents(s, dir)
        .withColumn("fp", fp)
        .withColumn("sn", regexp_replace(col("source"), "src", "").cast("int"))
        .cache()
      d.count()
      val incoming = d.filter(col("sn") < 4)
      val ref = d.filter(col("sn") >= 4)
      BloomJoin.anti(incoming, ref, "fp", expectedItems = 1000000L)
        .select(col("doc_id"), col("source"), col("fp"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
        SELECT doc_id, source,
          CAST(replace(source, 'src', '') AS INT) AS sn,
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        FROM documents)
      SELECT a.doc_id, a.source, a.fp
      FROM d a
      WHERE a.sn < 4
        AND NOT EXISTS (SELECT 1 FROM d b WHERE b.sn >= 4 AND b.fp = a.fp)
      ORDER BY a.doc_id"""))

  /** EXACT all-pairs shingle-set similarity join (Jaccard ≥ 0.8) via
    * prefix + positional filtering — upgrades q46's sampled brute-force
    * check to the complete exact join, sub-quadratically (see
    * operators.SetSimJoin). Shingles are compared as xxhash64 longs (q46
    * precedent: primitive array_intersect fast path, 8-byte join keys,
    * and the verify sides stay broadcastable); the oracle computes the
    * same sets on the raw strings — the hash compare therefore also
    * witnesses collision-freedom on the fixtures. The oracle is the
    * O(n²) brute force: completeness of the filters is exactly what the
    * hash compare proves.
    */
  val q87 = GQuery(
    "q87_setsim_join",
    (s, dir) => {
      // shingle sets via the fully fused graft_shingle_set expression:
      // text → distinct xxhash64 bigram hashes in ONE row-local pass, no
      // explode, no shuffle, no collect_set (the per-document set is a
      // pure function of the document; shuffling token rows to reassemble
      // it was wasted movement at any scale — and at sf0.1 the dropped
      // stages also halve the query's cold wall). Cached because the
      // operator reads it three times (token explode + both verify
      // sides); ownership per capBuckets. Docs with <2 tokens get an
      // EMPTY set and vanish at the token explode — they can never reach
      // threshold 0.8 anyway (empty sets pair with nothing).
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("sh"))
        .cache()
      d.count()
      SetSimJoin.jaccardJoin(d, "doc_id", "sh", 0.8)
        .select(col("id_a"), col("id_b"),
          graft.functions.Metrics.canonRound(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      sh AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(w)-1),
            i -> w[i] || ' ' || w[i+1])) AS s
        FROM tk),
      j AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
          len(a.s) AS na, len(b.s) AS nb
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b,
        floor((inter / (na + nb - inter)) * 1e4 + 0.5)/1e4 AS jaccard
      FROM j
      WHERE inter / (na + nb - inter) >= 0.8
      ORDER BY id_a, id_b"""))

  /** Stratified deterministic sampling: per-language sampling fractions
    * out of 16 via the first hex digit of md5(doc_id) — the q55 hash-split
    * idea generalized to per-stratum rates. Unlike `sampleBy` (rand()
    * per row), the draw is a pure function of the key: stable under
    * reruns, repartitioning, and data growth — the property a training-
    * data pipeline needs for reproducible corpus subsets.
    */
  val q88 = GQuery(
    "q88_stratified_sample",
    (s, dir) => {
      // en over-sampled 8/16, everything else 4/16
      val threshold = when(col("lang") === "en", lit("8")).otherwise(lit("4"))
      Tables.documents(s, dir)
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) < threshold)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
            (CASE WHEN lang = 'en' THEN '8' ELSE '4' END)
      ORDER BY doc_id"""))

  /** TF-IDF scored top terms per document. Scoring uses the log-free
    * rational idf variant score = (tf/len)·(N/df): pure IEEE arithmetic,
    * so ranks are bit-identical across engines (ln() differs in the last
    * ulp between libm implementations and could flip near-tie ranks; the
    * log idf is a one-line swap where cross-engine hashing isn't a
    * requirement). Dataflow: one explode → (doc,term) counts (map-side
    * combined) → broadcast df/N lookups → per-doc ranking window over the
    * small aggregate — the explode never reaches the window. Vocabulary-
    * level frames (df) stay broadcastable at corpus scale; N is one row.
    */
  val q90 = GQuery(
    "q90_tfidf_terms",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      // tf, len, and dfreq all aggregate the same exploded frame: cache
      // it eagerly (racing-consumers rule) or the corpus is scanned and
      // tokenized three times per run (review finding, r14)
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .cache()
      tok.count()
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val len = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val dfreq = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(len, "doc_id").join(broadcast(dfreq), "term").crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf").cast("double") / col("len")) * (col("n_docs").cast("double") / col("df")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("int").as("rank"), col("term"),
          graft.functions.Metrics.canonRound(col("score"), 6).as("score"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      len AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.term,
          (CAST(t.tf AS DOUBLE) / l.len) * (CAST(n.n_docs AS DOUBLE) / d.df) AS score
        FROM tf t JOIN len l USING (doc_id) JOIN dfreq d USING (term), n),
      ranked AS (
        SELECT doc_id, term, score,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        FROM scored)
      SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
        floor((score) * 1e6 + 0.5)/1e6 AS score
      FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Document chunking: overlapping token windows (size 50, stride 25) —
    * the pre-tokenization shape an LLM training pipeline feeds to
    * packing/tokenization. Pure per-document work (sequence + posexplode +
    * slice): embarrassingly parallel with the scan, no shuffle until the
    * final sort. Chunk identity is content-addressed (md5 of the window)
    * so downstream dedup composes.
    */
  val q91 = GQuery(
    "q91_chunking",
    (s, dir) => {
      val size50 = 50
      val stride = 25
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("w"))
        .withColumn("n", size(col("w")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("w"), col("n"),
          posexplode(sequence(lit(0), col("n") - 1, lit(stride))).as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          slice(col("w"), col("start") + 1, lit(size50)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
        FROM documents),
      st AS (
        SELECT doc_id, w, n,
          unnest(generate_series(0, n - 1, 25)) AS start
        FROM t WHERE n > 0),
      ch AS (
        SELECT doc_id, CAST(start / 25 AS INTEGER) AS chunk_idx,
          w[start + 1 : least(start + 50, n)] AS chunk
        FROM st)
      SELECT doc_id, chunk_idx,
        CAST(len(chunk) AS INTEGER) AS chunk_len,
        md5(array_to_string(chunk, ' ')) AS chunk_hash
      FROM ch ORDER BY doc_id, chunk_idx"""))

  /** Sequence packing: assign documents to ~512-token training bins per
    * language, in one pass — bin = floor(preceding-cumsum / capacity) over
    * a deterministic (lang, doc_id) order. This is the standard streaming
    * approximation of greedy bin packing (a document may straddle a
    * boundary; the chunker upstream bounds the overshoot), chosen because
    * true greedy packing is inherently sequential per group while this
    * form is one window over data already sorted by the partition key.
    */
  val q92 = GQuery(
    "q92_sequence_packing",
    (s, dir) => {
      val cap = 512L
      val win = org.apache.spark.sql.expressions.Window
      val w = win.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(win.unboundedPreceding, win.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_tokens"))
        .withColumn("bin",
          floor((sum("n_tokens").over(w) - col("n_tokens")) / cap).cast("int"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        CAST(floor((sum(len(string_split(text, ' ')))
                      OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - len(string_split(text, ' '))) / 512.0) AS INTEGER) AS bin
      FROM documents ORDER BY doc_id"""))

  /** Corpus-trained bigram language-model scoring — the statistical
    * "perplexity filter" of LLM data pipelines (docs whose token
    * transitions are improbable under the corpus LM are low-quality /
    * off-distribution). Train = bigram + first-token occurrence counts
    * over the whole corpus (two map-side-combined aggregations); score =
    * per-document mean log P(w₂|w₁) with add-½ smoothing over the corpus
    * vocabulary. Everything is counts, one log, and one broadcast scalar
    * (V) — fully distributed, fully oracle-checkable. log parity note:
    * both engines compute ln on an IEEE-identical ratio (integer counts +
    * exact 0.5s), and the 1e-4 snap in exactMean absorbs any last-ulp
    * libm difference.
    */
  /** Per-document bigram-LM mean log-probability (doc_id, n_bigrams,
    * avg_logp) — see q104. Shared by the q106 filter composite.
    */
  def lmScores(docs: DataFrame): DataFrame = {
    // one row per bigram OCCURRENCE; consumed by both count aggs and
    // the scoring join → cache eagerly (racing-consumers rule)
    val big = docs.select(col("doc_id"),
        call_function("graft_shingles", col("text")).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .cache()
    big.count()
    val cb = big.groupBy("bg").agg(count(lit(1)).as("cb"))
    val cw = big.groupBy("w1").agg(count(lit(1)).as("cw"))
    val v = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val scored = big.join(cb, "bg").join(cw, "w1")
      .crossJoin(broadcast(v)) // 1-row scalar
      .withColumn("logp",
        log((col("cb") + lit(0.5)) / (col("cw") + lit(0.5) * col("v"))))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.Metrics.exactMean(col("logp")).as("avg_logp"))
  }

  /** The q104/q106 oracle's LM CTE block (ends with `lm(doc_id,
    * n_bigrams, avg_logp)`), kept as one string so the two cannot drift.
    */
  private def lmOracleCtes: String =
    """toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bgx AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS bg
        FROM toks),
      bgw AS (
        SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgx),
      cb AS (SELECT bg, count(*) AS cb FROM bgw GROUP BY bg),
      cw AS (SELECT w1, count(*) AS cw FROM bgw GROUP BY w1),
      vv AS (SELECT count(DISTINCT tok) AS v
             FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      scoredlm AS (
        SELECT b.doc_id, ln((cb.cb + 0.5) / (cw.cw + 0.5 * vv.v)) AS logp
        FROM bgw b JOIN cb USING (bg) JOIN cw USING (w1) CROSS JOIN vv),
      lm AS (
        SELECT doc_id, count(*) AS n_bigrams,
          CAST(sum(CAST(floor((logp)*1e4+0.5)/1e4 AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS avg_logp
        FROM scoredlm GROUP BY doc_id)"""

  val q104 = GQuery(
    "q104_lm_score",
    (s, dir) => lmScores(Tables.documents(s, dir)).orderBy("doc_id"),
    Some(
      s"""WITH $lmOracleCtes
      SELECT doc_id, n_bigrams, avg_logp FROM lm ORDER BY doc_id"""))

  /** The end-to-end CORPUS FILTER a training-data pipeline actually runs,
    * as one funnel: exact dedup survivor → structural quality gates
    * (length, q42's quality score) → statistical LM gate (q104's mean
    * bigram log-prob), reported per source as monotone stage counts.
    * Every gate compares canonically-ROUNDED values, so the funnel is
    * hash-verified end to end. Thresholds sit inside the fixture's
    * observed distributions (quality 0.06-0.29, avg_logp −3.63..−3.26)
    * so every stage drops someone.
    */
  val q106 = GQuery(
    "q106_corpus_filter",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val t = tokens(col("text"))
      val nTok = size(t).cast("double")
      // score through qualityExpr — the single factored formula q42/q112
      // share; re-inlining it here recreated exactly the scorer/gate
      // drift risk its docstring warns about (review finding, r14)
      val quality = graft.functions.Metrics.canonRound(qualityExpr(t), 4)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      val staged = docs
        .withColumn("is_exact", col("doc_id") === min("doc_id").over(w))
        .withColumn("n_tok", nTok)
        .withColumn("q", quality)
        .join(lmScores(docs).select(col("doc_id"), col("avg_logp")), Seq("doc_id"), "left")
        .withColumn("pass_quality",
          col("is_exact") && col("n_tok") >= 20 && col("q") >= 0.15)
        .withColumn("pass_lm",
          col("pass_quality") && coalesce(col("avg_logp"), lit(-999.0)) >= -3.42)
      staged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_exact"), 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("pass_quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("pass_lm"), 1L).otherwise(0L)).as("n_final"))
        .orderBy("source")
    },
    Some {
      val stopList = stopwords.map(w => s"'$w'").mkString(",")
      s"""WITH $lmOracleCtes,
      metrics AS (
        SELECT doc_id, source,
          (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS is_exact,
          CAST(len(string_split(text,' ')) AS DOUBLE) AS n_tok,
          floor((least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0)
            * (1.0 - CAST(len(list_filter(string_split(text,' '), x -> x IN ($stopList))) AS DOUBLE)
                     / CAST(len(string_split(text,' ')) AS DOUBLE))
            * (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
               / CAST(len(string_split(text,' ')) AS DOUBLE))) * 1e4 + 0.5)/1e4 AS q
        FROM documents),
      staged AS (
        SELECT m.source, m.is_exact,
          (m.is_exact AND m.n_tok >= 20 AND m.q >= 0.15) AS pass_quality,
          (m.is_exact AND m.n_tok >= 20 AND m.q >= 0.15
            AND coalesce(lm.avg_logp, -999.0) >= -3.42) AS pass_lm
        FROM metrics m LEFT JOIN lm ON lm.doc_id = m.doc_id)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        CAST(sum(CASE WHEN pass_lm THEN 1 ELSE 0 END) AS BIGINT) AS n_final
      FROM staged GROUP BY source ORDER BY source"""
    })

  /** BM25 retrieval (Robertson-Spärck Jones; k1=1.2, b=0.75) for a fixed
    * term query over the corpus — the "find training docs about X" search
    * primitive TF-IDF (q90) stops short of. Scored docs are emitted in
    * doc_id order with the rounded score rather than score-ranked, so the
    * oracle comparison never depends on float-ordering ties.
    *
    * Scale shape: tf is a hash agg on (doc_id, term) AFTER the term
    * filter is pushed into the explode output (only query-term rows
    * shuffle); df and the corpus stats are broadcast scalars. One shuffle
    * of query-term hits + one per-doc agg.
    */
  val q123 = GQuery(
    "q123_bm25_search",
    (s, dir) => {
      val terms = Seq("spark", "query", "join")
      val k1 = 1.2
      val bb = 0.75
      // len, tf, and dfreq all aggregate the same exploded frame — cache
      // eagerly, same racing-consumers rationale as q90
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .cache()
      tok.count()
      val len = tok.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val stats = len.agg(count(lit(1)).as("n_docs"), avg(col("len")).as("avg_len"))
      val tf = tok.filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tok.select("doc_id", "term").distinct()
        .filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(len, "doc_id").join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs").cast("double") - col("df") + 0.5) / (col("df").cast("double") + 0.5) + 1.0))
        .withColumn("s", col("idf") * (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") + lit(k1) * (lit(1) - lit(bb) + lit(bb) * col("len").cast("double") / col("avg_len"))))
        // snap each per-term score to the 1e-6 integer grid BEFORE the
        // sum: double addition is non-associative and partial-agg order
        // differs between engines (and across Spark reruns), so summing
        // raw doubles and rounding after could flip the last digit on a
        // grid boundary — the Metrics.exactSum rule every other float
        // aggregate in this file follows (review finding, r14)
        .withColumn("s_micro", floor(col("s") * 1e6 + 0.5).cast("long"))
        .groupBy("doc_id").agg(sum("s_micro").as("s_sum"), count(lit(1)).as("n_terms_hit"))
        .select(col("doc_id"), col("n_terms_hit"),
          (col("s_sum").cast("double") / 1e6).as("bm25"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      len AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY 1),
      st AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM len),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('spark','query','join') GROUP BY 1, 2),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
                WHERE term IN ('spark','query','join') GROUP BY 1),
      sc AS (SELECT t.doc_id,
          -- per-term snap to integer micro-units before the sum (see the
          -- Spark side: raw-double sums are addition-order-dependent)
          CAST(floor((
            ln((CAST(st.n_docs AS DOUBLE) - d.df + 0.5)/(CAST(d.df AS DOUBLE) + 0.5) + 1.0)
            * (CAST(t.tf AS DOUBLE)*(1.2 + 1))
            / (CAST(t.tf AS DOUBLE) + 1.2*(1 - 0.75 + 0.75*CAST(l.len AS DOUBLE)/st.avg_len))
          ) * 1e6 + 0.5) AS BIGINT) AS s_micro
        FROM tf t JOIN len l USING (doc_id) JOIN dfreq d USING (term), st)
      SELECT doc_id, count(*) AS n_terms_hit,
        CAST(sum(s_micro) AS DOUBLE)/1e6 AS bm25
      FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Count-min sketch heavy-hitter estimation (Cormode-Muthukrishnan
    * 2005), deterministic edition: d=4 rows × w=256 columns, row hashes by
    * Kirsch-Mitzenmacher double hashing over the md5 halves (the repo's
    * standard cross-engine scheme). The sketch build is ONE re-aggregable
    * hash agg — mergeable across shards/grains exactly like the q98 HLL
    * rollup — and the query emits each term's CMS estimate next to its
    * exact count, so the oracle verifies the estimates cell-for-cell AND
    * the e ≥ exact overestimate invariant is visible in the output.
    * Completes the sketch family: HLL (cardinality, q27/q98), Bloom
    * (membership, q86), CMS (frequency).
    *
    * Scale shape: the sketch is 1024 cells regardless of corpus size —
    * the whole point; at 100 TB the same groupBy produces the same 1024
    * rows and the candidate-estimate join is a broadcast of the sketch.
    */
  val q124 = GQuery(
    "q124_countmin_heavy",
    (s, dir) => {
      val d = 4
      val w = 256L
      val tok = Tables.documents(s, dir).select(explode(tokens(col("text"))).as("term"))
      def withSlots(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("md", md5(col("term")))
        .withColumn("h1", conv(substring(col("md"), 1, 15), 16, 10).cast("long"))
        .withColumn("h2", conv(substring(col("md"), 17, 15), 16, 10).cast("long"))
        .select(df.columns.map(col) :+
          posexplode(array((0 until d).map(i =>
            pmod(col("h1") + lit(i.toLong) * col("h2"), lit(w))): _*)).as(Seq("row", "slot")): _*)
      val sketch = withSlots(tok).groupBy("row", "slot").agg(count(lit(1)).as("c"))
      val terms = tok.groupBy("term").agg(count(lit(1)).as("exact"))
      withSlots(terms).join(sketch, Seq("row", "slot"))
        .groupBy("term").agg(max("exact").as("exact"), min("c").as("est"))
        .select(col("term"), col("exact"), col("est"), (col("est") - col("exact")).as("overcount"))
        .orderBy("term")
    },
    Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS term FROM documents),
      th AS (SELECT term, count(*) AS exact,
               CAST(('0x' || substr(md5(term),1,15)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(term),17,15)) AS BIGINT) AS h2
             FROM tok GROUP BY term),
      rows_ AS (SELECT unnest([0,1,2,3]) AS r),
      cells AS (SELECT t.term, r.r AS row_, (th.h1 + r.r*th.h2) % 256 AS slot, th.exact
        FROM tok t JOIN th USING (term), rows_ r),
      sketch AS (SELECT row_, slot, count(*) AS c FROM cells GROUP BY 1, 2),
      tslots AS (SELECT term, exact, r.r AS row_, (h1 + r.r*h2) % 256 AS slot
        FROM th, rows_ r)
      SELECT ts.term, max(ts.exact) AS exact, min(sk.c) AS est,
             min(sk.c) - max(ts.exact) AS overcount
      FROM tslots ts JOIN sketch sk ON ts.row_ = sk.row_ AND ts.slot = sk.slot
      GROUP BY ts.term ORDER BY ts.term"""))

  /** Vocabulary-truncation OOV audit: build the top-K vocabulary from the
    * TRAIN side of the q55 hash split (token count desc, token asc
    * tie-break — fully deterministic), then measure per-source holdout
    * coverage: token occurrences outside the vocab (OOV rate) and the
    * share of distinct holdout types covered. The standard pre-tokenizer
    * check before freezing a word/BPE vocab — a source whose OOV rate is
    * an outlier is about to be tokenized badly.
    *
    * Scale: token counting is explode → hash agg (map-side combined);
    * the vocabulary is top-K of that aggregate (tiny — K rows) and joins
    * back as a broadcast. No shuffle touches raw text twice.
    */
  /** q144 body over any (doc_id, source, text) frame — factored for spec
    * use; `k` is the vocabulary size cap.
    */
  def vocabOov(docs: DataFrame, k: Int): DataFrame = {
      val isTrain = conv(substring(md5(coalesce(col("doc_id").cast("string"),
        lit("\u0000null"))), 1, 1), 16, 10).cast("int") < 12
      val toks = docs.withColumn("is_train", isTrain)
        .select(col("doc_id"), col("source"), col("is_train"),
          explode(tokens(col("text"))).as("tok"))
      val vocab = toks.filter(col("is_train"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(k)
        .select(col("tok"), lit(1).as("in_vocab"))
      toks.filter(!col("is_train"))
        .join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(col("tok")).as("n_types"),
          countDistinct(when(col("in_vocab").isNotNull, col("tok"))).as("n_types_covered"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          graft.functions.Metrics.canonRound(col("n_oov").cast("double")
            / col("n_tokens").cast("double"), 6).as("oov_rate"),
          col("n_types"), col("n_types_covered"))
        .orderBy("source")
  }

  val q144 = GQuery(
    "q144_vocab_oov",
    (s, dir) => vocabOov(Tables.documents(s, dir), 24),
    Some("""WITH split AS (
        SELECT doc_id, source, string_split(text, ' ') AS t,
          substr(md5(coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null')), 1, 1) < 'c' AS is_train
        FROM documents),
      toks AS (
        SELECT doc_id, source, is_train, unnest(t) AS tok FROM split),
      vocab AS (
        SELECT tok FROM toks WHERE is_train
        GROUP BY tok ORDER BY count(*) DESC, tok ASC LIMIT 24),
      held AS (
        SELECT source, toks.tok, CAST(vocab.tok IS NOT NULL AS INT) AS in_vocab
        FROM toks LEFT JOIN vocab ON toks.tok = vocab.tok
        WHERE NOT is_train)
      SELECT source, count(*) AS n_tokens,
        CAST(sum(1 - in_vocab) AS BIGINT) AS n_oov,
        floor(CAST(sum(1 - in_vocab) AS DOUBLE)/CAST(count(*) AS DOUBLE)*1e6+0.5)/1e6 AS oov_rate,
        count(DISTINCT tok) AS n_types,
        count(DISTINCT CASE WHEN in_vocab = 1 THEN tok END) AS n_types_covered
      FROM held GROUP BY source ORDER BY source"""))

  /** Domain-shift audit: per-source token-distribution KL divergence
    * against the whole-corpus distribution, KL(p_source || p_corpus) =
    * Σ_w p_s(w)·ln(p_s(w)/p(w)). A source whose KL is an outlier writes
    * in a different register than the rest of the mixture — the check
    * behind mixture re-weighting and contamination triage. ln is
    * cross-engine-stable at the 1e-8 contribution grid (q104's LM oracle
    * established the precedent).
    *
    * Scale: two map-side-combinable token-count aggs; the global vocab
    * frame (|vocab| rows) broadcasts onto the per-source counts. Nothing
    * quadratic, nothing retains documents past the explode.
    */
  def sourceTokenKl(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val perSrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val srcTot = perSrc.groupBy("source").agg(sum("c").as("n_s"))
    val glob = toks.groupBy("tok").agg(count(lit(1)).as("g"))
    val globTot = glob.agg(sum("g").as("n"))
    val p = col("c").cast("double") / col("n_s").cast("double")
    val q = col("g").cast("double") / col("n").cast("double")
    perSrc.join(srcTot, "source").join(broadcast(glob), "tok")
      .crossJoin(broadcast(globTot))
      .select(col("source"), floor(p * log(p / q) * 1e8 + 0.5).cast("long").as("k"))
      .groupBy("source").agg(sum("k").as("ks"), count(lit(1)).as("n_terms"))
      .select(col("source"),
        graft.functions.Metrics.canonRound(col("ks").cast("double") / 1e8, 6).as("kl"),
        col("n_terms"))
      .orderBy("source")
  }

  val q149 = GQuery(
    "q149_source_kl",
    (s, dir) => sourceTokenKl(Tables.documents(s, dir)),
    Some("""WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      persrc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      srctot AS (SELECT source, sum(c) AS n_s FROM persrc GROUP BY source),
      gcnt AS (SELECT tok, count(*) AS g FROM toks GROUP BY tok),
      globtot AS (SELECT sum(g) AS n FROM gcnt),
      contrib AS (
        SELECT p.source,
          CAST(floor((CAST(p.c AS DOUBLE)/CAST(s.n_s AS DOUBLE))
            * ln((CAST(p.c AS DOUBLE)/CAST(s.n_s AS DOUBLE))
                 / (CAST(g.g AS DOUBLE)/CAST(t.n AS DOUBLE))) * 1e8 + 0.5) AS BIGINT) AS k
        FROM persrc p JOIN srctot s USING (source)
        JOIN gcnt g USING (tok) CROSS JOIN globtot t)
      SELECT source,
        floor(CAST(sum(k) AS DOUBLE)/1e8*1e6+0.5)/1e6 AS kl,
        count(*) AS n_terms
      FROM contrib GROUP BY source ORDER BY source"""))

  /** PMI collocations (Church & Hanks 1990): the top-20 adjacent-token
    * pairs by pointwise mutual information, PMI(w₁,w₂) = ln p(w₁w₂) −
    * ln p(w₁) − ln p(w₂), with a min-count floor so rare-pair noise
    * (PMI's classic failure mode) never ranks. The collocation lexicon is
    * what multi-word-expression tokenizer vocab and phrase-mining passes
    * consume.
    *
    * Determinism: every probability is a single IEEE division of exact
    * integer counts, each ln is applied to an identical double in both
    * engines, and the three-term SUM (not a fused product — products of
    * count triples overflow 2⁵³) lands on canonRound's 1e-6 grid (q104's
    * ln precedent). Ranking sorts the ROUNDED pmi with (w1, w2) as the
    * total tie-break.
    *
    * Scale: bigram + unigram occurrence counts are two map-side-combined
    * hash aggs off the graft_shingles generator; the ranked frame is
    * |vocab|²-bounded (tiny), so the top-k window is a broadcast-scale
    * finisher, not a corpus sort.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long, topK: Int): DataFrame = {
    val big = docs.select(call_function("graft_shingles", col("text")).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val cb = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val cu = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val nb = big.agg(count(lit(1)).as("nb"))
    val nu = docs.select((size(tokens(col("text")))).as("k")).agg(sum("k").as("nu"))
    val pmi = log(col("cb").cast("double") / col("nb").cast("double")) -
      log(col("c1").cast("double") / col("nu").cast("double")) -
      log(col("c2").cast("double") / col("nu").cast("double"))
    val scored = cb
      .join(broadcast(cu.select(col("tok").as("w1"), col("cu").as("c1"))), "w1")
      .join(broadcast(cu.select(col("tok").as("w2"), col("cu").as("c2"))), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("cb").as("n_pair"),
        graft.functions.Metrics.canonRound(pmi, 6).as("pmi"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy("rank")
  }

  val q150 = GQuery(
    "q150_pmi_collocations",
    (s, dir) => pmiCollocations(Tables.documents(s, dir), minCount = 20L, topK = 20),
    Some("""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (
        SELECT unnest(list_transform(generate_series(1, len(t)-1),
                 i -> t[i] || ' ' || t[i+1])) AS bg
        FROM toks),
      bgw AS (
        SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[-1] AS w2
        FROM bg),
      cb AS (SELECT w1, w2, count(*) AS cb FROM bgw GROUP BY w1, w2
             HAVING count(*) >= 20),
      cu AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      cuc AS (SELECT tok, count(*) AS cu FROM cu GROUP BY tok),
      nb AS (SELECT count(*) AS nb FROM bg),
      nu AS (SELECT count(*) AS nu FROM cu),
      scored AS (
        SELECT cb.w1, cb.w2, cb.cb AS n_pair,
          floor((ln(CAST(cb.cb AS DOUBLE)/CAST(nb.nb AS DOUBLE))
               - ln(CAST(u1.cu AS DOUBLE)/CAST(nu.nu AS DOUBLE))
               - ln(CAST(u2.cu AS DOUBLE)/CAST(nu.nu AS DOUBLE)))*1e6 + 0.5)/1e6 AS pmi
        FROM cb JOIN cuc u1 ON u1.tok = cb.w1 JOIN cuc u2 ON u2.tok = cb.w2
        CROSS JOIN nb CROSS JOIN nu),
      ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INTEGER)
          AS rank, w1, w2, n_pair, pmi
        FROM scored)
      SELECT rank, w1, w2, n_pair, pmi FROM ranked
      WHERE rank <= 20 ORDER BY rank"""))

  /** Zipf rank-frequency fit per source: OLS slope/intercept of ln(count)
    * on ln(rank) over each source's top-50 tokens (rank = count desc, token
    * asc — total order). A healthy natural-language source sits near slope
    * −1; a templated or spammy source flattens or cliffs — the quick
    * distributional-health check next to q149's KL.
    *
    * Determinism: ln(rank)/ln(count) snap to a 1e-6 BIGINT grid before the
    * moment sums, so Σx, Σy, Σxy, Σx² are exact integer aggregations
    * (top-50 cap keeps every sum < 2⁵³ — exact in double too); the final
    * slope/intercept arithmetic is an identical IEEE sequence in both
    * engines, landed on canonRound grids.
    *
    * Scale: one (source, tok) count agg; ranking windows run per source
    * over ≤|vocab| rows — the whole regression input is broadcast-scale.
    */
  def zipfFit(docs: DataFrame, topN: Int): DataFrame = {
    val counts = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("c").desc, col("tok").asc)
    val pts = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("source"),
        floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long").as("kx"),
        floor(log(col("c").cast("double")) * 1e6 + 0.5).cast("long").as("ky"))
    val m = pts.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum("kx").as("sx"), sum("ky").as("sy"),
      sum(col("kx") * col("ky")).as("sxy"),
      sum(col("kx") * col("kx")).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double") / 1e6
    val syD = col("sy").cast("double") / 1e6
    val sxyD = col("sxy").cast("double") / 1e12
    val sxxD = col("sxx").cast("double") / 1e12
    val slope = (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
    val icept = (syD - slope * sxD) / nD
    m.select(col("source"), col("n").as("n_ranks"),
        graft.functions.Metrics.canonRound(slope, 6).as("zipf_slope"),
        graft.functions.Metrics.canonRound(icept, 6).as("zipf_intercept"))
      .orderBy("source")
  }

  val q152 = GQuery(
    "q152_zipf_fit",
    (s, dir) => zipfFit(Tables.documents(s, dir), topN = 50),
    Some("""WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
      counts AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
      ranked AS (
        SELECT source, c,
          row_number() OVER (PARTITION BY source ORDER BY c DESC, tok ASC) AS rank
        FROM counts),
      pts AS (
        SELECT source,
          CAST(floor(ln(CAST(rank AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS kx,
          CAST(floor(ln(CAST(c AS DOUBLE))*1e6 + 0.5) AS BIGINT) AS ky
        FROM ranked WHERE rank <= 50),
      m AS (
        SELECT source, count(*) AS n, sum(kx) AS sx, sum(ky) AS sy,
          sum(kx*ky) AS sxy, sum(kx*kx) AS sxx
        FROM pts GROUP BY source),
      fit AS (
        SELECT source, n,
          (CAST(n AS DOUBLE)*(CAST(sxy AS DOUBLE)/1e12)
            - (CAST(sx AS DOUBLE)/1e6)*(CAST(sy AS DOUBLE)/1e6))
          / (CAST(n AS DOUBLE)*(CAST(sxx AS DOUBLE)/1e12)
            - (CAST(sx AS DOUBLE)/1e6)*(CAST(sx AS DOUBLE)/1e6)) AS slope,
          CAST(sx AS DOUBLE)/1e6 AS sxd, CAST(sy AS DOUBLE)/1e6 AS syd
        FROM m)
      SELECT source, n AS n_ranks,
        floor(slope*1e6 + 0.5)/1e6 AS zipf_slope,
        floor(((syd - slope*sxd)/CAST(n AS DOUBLE))*1e6 + 0.5)/1e6 AS zipf_intercept
      FROM fit ORDER BY source"""))

  /** ASYMMETRIC containment near-dup (Broder 1997's containment, the
    * quote/subset complement of q46's symmetric Jaccard): C(A→B) =
    * |sh(A) ∩ sh(B)| / |sh(A)|. A short doc fully quoted inside a long
    * one scores high containment but LOW Jaccard — exactly the pairs a
    * Jaccard-thresholded dedup (q46/q56) misses by design. Output is
    * every sampled same-lang pair with max-direction containment ≥ 0.25,
    * with both directions and the Jaccard alongside so the triage can
    * split mirror-dups from subset-dups.
    *
    * Scale: sampled-exact like q46 (the verification baseline); the
    * production path runs the same formula on the q56 banded candidates
    * (containment needs only |A|, |B|, |A∩B| — all already computed by
    * the band-join verify stage).
    */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val contA = graft.functions.Metrics.canonRound(inter / size(col("sh_a")), 4)
    val contB = graft.functions.Metrics.canonRound(inter / size(col("sh_b")), 4)
    val jac = graft.functions.Metrics.canonRound(
      inter / ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter), 4)
    // pair frame shared with q46 — one constructor, no drift
    sampledShinglePairs(docs)
      .select(col("id_a"), col("id_b"), jac.as("jaccard"),
        contA.as("cont_a_in_b"), contB.as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .orderBy("id_a", "id_b")
  }

  val q161 = GQuery(
    "q161_containment_pairs",
    (s, dir) => containmentPairs(Tables.documents(s, dir), threshold = 0.25),
    Some("""WITH d AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(string_split(text,' '))-1),
                 i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS sh
        FROM documents WHERE doc_id % 10 = 0),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS i,
          CAST(len(a.sh) AS DOUBLE) AS na, CAST(len(b.sh) AS DOUBLE) AS nb
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id),
      scored AS (
        SELECT id_a, id_b,
          floor(i/(na + nb - i)*1e4 + 0.5)/1e4 AS jaccard,
          floor(i/na*1e4 + 0.5)/1e4 AS cont_a_in_b,
          floor(i/nb*1e4 + 0.5)/1e4 AS cont_b_in_a
        FROM pairs)
      SELECT id_a, id_b, jaccard, cont_a_in_b, cont_b_in_a FROM scored
      WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.25
      ORDER BY id_a, id_b"""))

  /** Multinomial Naive Bayes language classifier, trained AND scored as
    * pure relational algebra (the McCallum & Nigam 1998 event model):
    * train on the even-doc_id half (per-lang priors + add-1-smoothed
    * token likelihoods), predict the odd half, report the confusion
    * matrix — a CLASSIFIER as four hash aggs and two broadcast joins,
    * no MLlib, no driver math beyond nothing.
    *
    * Determinism: every likelihood is ln of one IEEE division of exact
    * integer counts, snapped to a 1e-8 BIGINT grid; a document's score
    * is prior_k + Σ c_dt·k(l,tok) — INTEGER arithmetic, so argmax (ties
    * → lang asc) is engine-exact. Unseen test tokens take the smoothed
    * zero-count likelihood via the left join's coalesce.
    *
    * Scale: token-count aggs are map-side combined; the (lang × vocab)
    * likelihood table (~|V|·|L| rows) broadcasts onto the test doc-term
    * frame; the argmax is a per-doc window over |L| rows.
    */
  def naiveBayesConfusion(docs: DataFrame): DataFrame = {
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 =!= 0)
    val prior = train.groupBy(col("lang").as("l")).agg(count(lit(1)).as("n_docs"))
    val nTrain = train.count() // tiny driver scalar
    val tok = train.select(col("lang").as("l"), explode(tokens(col("text"))).as("tok"))
      .groupBy("l", "tok").agg(count(lit(1)).as("c"))
    val langTot = tok.groupBy("l").agg(sum("c").as("n_tok"))
    val vocab = tok.select("tok").distinct()
    val vSize = vocab.count() // tiny driver scalar
    // test doc-term counts, crossed with every candidate language
    val dt = test.select(col("doc_id"), col("lang").as("actual"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "actual", "tok").agg(count(lit(1)).as("c_dt"))
    val kTok = floor(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double")
      / (col("n_tok") + lit(vSize)).cast("double")) * 1e8 + 0.5).cast("long")
    val kPrior = floor(log(col("n_docs").cast("double") / lit(nTrain.toDouble)) * 1e8 + 0.5)
      .cast("long")
    val scored = dt
      .crossJoin(broadcast(prior.select(col("l"), kPrior.as("kp"))))
      .join(broadcast(langTot), Seq("l"))
      .join(broadcast(tok), Seq("l", "tok"), "left")
      .select(col("doc_id"), col("actual"), col("l"), col("kp"),
        (col("c_dt") * kTok).as("k"))
      .groupBy("doc_id", "actual", "l", "kp")
      .agg(sum("k").as("ks"))
      .select(col("doc_id"), col("actual"), col("l"), (col("kp") + col("ks")).as("score"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("l").asc)
    scored.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .groupBy(col("actual"), col("l").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "predicted")
  }

  val q167 = GQuery(
    "q167_naive_bayes",
    (s, dir) => naiveBayesConfusion(Tables.documents(s, dir)),
    Some("""WITH train AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
      test AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 <> 0),
      prior AS (SELECT lang AS l, count(*) AS n_docs FROM train GROUP BY lang),
      ntr AS (SELECT count(*) AS n FROM train),
      tok AS (
        SELECT lang AS l, unnest(string_split(text, ' ')) AS tok FROM train),
      tc AS (SELECT l, tok, count(*) AS c FROM tok GROUP BY l, tok),
      langtot AS (SELECT l, sum(c) AS n_tok FROM tc GROUP BY l),
      vs AS (SELECT count(DISTINCT tok) AS v FROM tok),
      dt AS (
        SELECT doc_id, actual, tok, count(*) AS c_dt
        FROM (SELECT doc_id, lang AS actual, unnest(string_split(text, ' ')) AS tok FROM test)
        GROUP BY doc_id, actual, tok),
      scored AS (
        SELECT dt.doc_id, dt.actual, p.l,
          CAST(floor(ln(CAST(p.n_docs AS DOUBLE)/CAST(ntr.n AS DOUBLE))*1e8 + 0.5) AS BIGINT)
            + sum(dt.c_dt * CAST(floor(ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE)
                / CAST(lt.n_tok + vs.v AS DOUBLE))*1e8 + 0.5) AS BIGINT)) AS score
        FROM dt
        CROSS JOIN prior p
        CROSS JOIN ntr CROSS JOIN vs
        JOIN langtot lt ON lt.l = p.l
        LEFT JOIN tc ON tc.l = p.l AND tc.tok = dt.tok
        GROUP BY dt.doc_id, dt.actual, p.l, p.n_docs, ntr.n),
      pred AS (
        SELECT doc_id, actual, l AS predicted,
          row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l ASC) AS rn
        FROM scored)
      SELECT actual, predicted, count(*) AS n_docs
      FROM pred WHERE rn = 1
      GROUP BY actual, predicted ORDER BY actual, predicted"""))

  /** Chi-squared independence test + Cramér's V for the lang × source
    * contingency table — "does language depend on source?", the
    * categorical-association audit behind stratification decisions
    * (if V ≈ 0 the mixture can ignore language; if V is large,
    * per-source language balancing matters). Expected cells are one
    * IEEE product/quotient of integer marginals; per-cell χ²
    * contributions land on a 1e-6 BIGINT grid before the sum, so the
    * statistic is engine-exact.
    *
    * Scale: one (lang, source) count agg; everything after runs on the
    * R×C cell frame.
    */
  def chiSquaredLangSource(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy("lang").agg(sum("o").as("rt"))
    val colT = cells.groupBy("source").agg(sum("o").as("ct"))
    val nT = cells.agg(sum("o").as("n"),
      countDistinct("lang").as("r"), countDistinct("source").as("c"))
    val e = col("rt").cast("double") * col("ct").cast("double") / col("n").cast("double")
    val o = coalesce(col("o"), lit(0L)).cast("double")
    val contrib = floor((o - e) * (o - e) / e * 1e6 + 0.5).cast("long")
    val chi2 = col("ks").cast("double") / 1e6
    val v = sqrt(chi2 / (col("n").cast("double")
      * least(col("r") - 1, col("c") - 1).cast("double")))
    // dense R×C axis: zero cells still contribute (0−e)²/e
    rowT.crossJoin(colT)
      .join(cells, Seq("lang", "source"), "left")
      .crossJoin(broadcast(nT))
      .select(col("n"), col("r"), col("c"), contrib.as("k"))
      .groupBy("n", "r", "c").agg(sum("k").as("ks"))
      .select(col("n"),
        ((col("r") - 1) * (col("c") - 1)).cast("int").as("df"),
        graft.functions.Metrics.canonRound(chi2, 4).as("chi2"),
        graft.functions.Metrics.canonRound(v, 6).as("cramers_v"))
  }

  val q172 = GQuery(
    "q172_chi2_independence",
    (s, dir) => chiSquaredLangSource(Tables.documents(s, dir)),
    Some("""WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source),
      rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY lang),
      ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY source),
      nt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               count(DISTINCT lang) AS r, count(DISTINCT source) AS c FROM cells),
      contrib AS (
        SELECT nt.n, nt.r, nt.c,
          CAST(floor((CAST(coalesce(cl.o, 0) AS DOUBLE) - CAST(rt.rt AS DOUBLE)*CAST(ct.ct AS DOUBLE)/CAST(nt.n AS DOUBLE))
                   * (CAST(coalesce(cl.o, 0) AS DOUBLE) - CAST(rt.rt AS DOUBLE)*CAST(ct.ct AS DOUBLE)/CAST(nt.n AS DOUBLE))
                   / (CAST(rt.rt AS DOUBLE)*CAST(ct.ct AS DOUBLE)/CAST(nt.n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS k
        FROM rt CROSS JOIN ct
        LEFT JOIN cells cl ON cl.lang = rt.lang AND cl.source = ct.source
        CROSS JOIN nt),
      agg AS (SELECT n, r, c, sum(k) AS ks FROM contrib GROUP BY n, r, c)
      SELECT n, CAST((r - 1)*(c - 1) AS INTEGER) AS df,
        floor(CAST(ks AS DOUBLE)/1e6*1e4 + 0.5)/1e4 AS chi2,
        floor(sqrt(CAST(ks AS DOUBLE)/1e6/(CAST(n AS DOUBLE)*CAST(least(r - 1, c - 1) AS DOUBLE)))*1e6 + 0.5)/1e6 AS cramers_v
      FROM agg"""))

  def all: Seq[GQuery] = Seq(q40, q41, q42, q43, q44, q45, q46, q49, q55, q78,
    q85, q86, q87, q88, q90, q91, q92, q104, q106, q123, q124, q144, q149,
    q150, q152, q161, q167, q172)
}
