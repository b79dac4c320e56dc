package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Metrics
import graft.registry.GQuery

/** Corpus-curation stages every production training-data pipeline runs
  * between the quality funnel (q106) and the contamination check (q109):
  * PII detection/redaction and line-level boilerplate dedup (the
  * CCNet/RefinedWeb granularity, complementing q119's span dedup).
  *
  * The documents fixture ships no PII and no line structure, so both
  * families AUGMENT the corpus deterministically from (doc_id, text) —
  * the same trick the multimodal family uses for payloads — which keeps
  * every output DuckDB-oracle-checkable: the oracle re-derives the
  * augmentation with identical string arithmetic.
  *
  * Scale notes (100 TB): all four queries are scan → narrow per-row
  * string work → hash-agg / long-keyed shuffle join. No windows over the
  * whole corpus, no driver collects, no cartesians. Line identities
  * travel as xxhash64 longs (8-byte shuffle keys, q109 precedent), never
  * as the line strings themselves.
  */
object CurationQueries {

  // --- PII detection / redaction -------------------------------------

  /** Deterministic PII injection: ~1/3 of docs get an email, 1/4 a phone,
    * 1/5 an SSN-shaped id (doc_id 0 gets all three). Both engines build
    * the exact same augmented string.
    */
  private def augText: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(pmod(id, lit(3)) === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(pmod(id, lit(4)) === 0,
        concat(lit(" call 555-"), lpad(pmod(id, lit(1000)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(id * 7, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" ssn "), (pmod(id, lit(900)) + 100).cast("string"),
          lit("-"), (pmod(id, lit(90)) + 10).cast("string"),
          lit("-"), lpad(pmod(id * 13, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")))
  }

  private val augSql =
    """SELECT doc_id, source, text
      || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
      || CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || CAST(doc_id % 90 + 10 AS VARCHAR) || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
      FROM documents"""

  /** ASCII-only patterns deliberately inside the RE2 ∩ java.util.regex
    * common subset (no lookaround, no backrefs, \b is ASCII in both) so
    * Spark and DuckDB match identically. The three shapes cannot overlap:
    * phone is 3-3-4 with a literal 555 prefix, id is 3-2-4 — neither
    * parses as a prefix/suffix of the other, and emails carry no dashes.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b555-[0-9]{3}-[0-9]{4}\\b"
  private val IdRe    = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** Per-doc PII scan: hit counts per pattern class plus the md5 of the
    * redacted text (email → phone → id replacement order, fixed on both
    * engines). The hash proves the redaction rewrote exactly the matched
    * spans — a redactor that clipped a neighboring char would mismatch.
    *
    * Scale: one scan, three regexp_count + three regexp_replace per row,
    * all inside whole-stage codegen; output is one row per doc. This is
    * the cheapest possible shape for the stage — no shuffle at all
    * before the final orderBy.
    */
  val q186 = GQuery(
    "q186_pii_scan",
    (s, dir) => {
      val aug = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), augText.as("t"))
      val red = regexp_replace(
        regexp_replace(regexp_replace(col("t"), EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"),
        IdRe, "[ID]")
      aug.select(
          col("doc_id"), col("source"),
          regexp_count(col("t"), lit(EmailRe)).as("n_email"),
          regexp_count(col("t"), lit(PhoneRe)).as("n_phone"),
          regexp_count(col("t"), lit(IdRe)).as("n_id"),
          md5(red).as("redacted_hash"))
        .withColumn("has_pii",
          (col("n_email") + col("n_phone") + col("n_id") > 0).cast("int"))
        .select("doc_id", "source", "n_email", "n_phone", "n_id", "has_pii", "redacted_hash")
        .orderBy("doc_id")
    },
    Some(s"""WITH aug AS ($augSql)
      SELECT doc_id, source,
        CAST(len(regexp_extract_all(t, '$EmailRe')) AS INTEGER) AS n_email,
        CAST(len(regexp_extract_all(t, '$PhoneRe')) AS INTEGER) AS n_phone,
        CAST(len(regexp_extract_all(t, '$IdRe')) AS INTEGER) AS n_id,
        CAST(len(regexp_extract_all(t, '$EmailRe')) + len(regexp_extract_all(t, '$PhoneRe')) + len(regexp_extract_all(t, '$IdRe')) > 0 AS INTEGER) AS has_pii,
        md5(regexp_replace(regexp_replace(regexp_replace(t, '$EmailRe', '[EMAIL]', 'g'), '$PhoneRe', '[PHONE]', 'g'), '$IdRe', '[ID]', 'g')) AS redacted_hash
      FROM aug ORDER BY doc_id"""))

  /** Per-source PII rollup: the report a pipeline owner actually reads —
    * docs scanned, docs with any PII, hits per class, PII rate. Map-side
    * combinable hash agg over ~20 groups.
    */
  val q187 = GQuery(
    "q187_pii_rollup",
    (s, dir) => {
      val aug = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), augText.as("t"))
        .select(col("source"),
          regexp_count(col("t"), lit(EmailRe)).as("ne"),
          regexp_count(col("t"), lit(PhoneRe)).as("np"),
          regexp_count(col("t"), lit(IdRe)).as("ni"))
      aug.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum((col("ne") + col("np") + col("ni") > 0).cast("int")).as("docs_with_pii"),
          sum(col("ne").cast("long")).as("n_email"),
          sum(col("np").cast("long")).as("n_phone"),
          sum(col("ni").cast("long")).as("n_id"))
        .withColumn("pii_rate",
          Metrics.canonRound(col("docs_with_pii").cast("double") / col("n_docs"), 4))
        .orderBy("source")
    },
    Some(s"""WITH aug AS ($augSql),
      hits AS (
        SELECT source,
          len(regexp_extract_all(t, '$EmailRe')) AS ne,
          len(regexp_extract_all(t, '$PhoneRe')) AS np,
          len(regexp_extract_all(t, '$IdRe')) AS ni
        FROM aug)
      SELECT source,
        count(*) AS n_docs,
        CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        CAST(sum(ne) AS BIGINT) AS n_email,
        CAST(sum(np) AS BIGINT) AS n_phone,
        CAST(sum(ni) AS BIGINT) AS n_id,
        floor(CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS pii_rate
      FROM hits GROUP BY source ORDER BY source"""))

  // --- line-level boilerplate dedup ----------------------------------

  /** The fixture text is one flat line, so documents are re-lined
    * deterministically: a header/footer drawn from small boilerplate
    * pools (the cookie-banner / copyright-footer shape CCNet strips) plus
    * the content split into 8-word lines. Boilerplate recurs across
    * ~n/5 docs and gets dropped by the doc-frequency rule; content lines
    * are effectively unique and survive. Pools and line width live in
    * [[graft.plans.LinesGenerator]] (the single source of truth the
    * oracles below mirror).
    */
  private val Headers = graft.plans.LinesGenerator.Headers
  private val Footers = graft.plans.LinesGenerator.Footers
  private val LineWords = graft.plans.LinesGenerator.LineWords
  private val MaxDocFreq = 5 // lines in more distinct docs than this are boilerplate

  /** (doc_id, source, line_no, line) — header at line_no 0, content at
    * 1..n, footer at n+1, streamed straight out of the scan by the fused
    * `graft_lines` generator (plans.LinesGenerator). The HOF composition
    * this replaces was evaluated TWICE per document per side (the
    * optimizer pushes the generator's guard into the scan filter) and
    * built three intermediate arrays per evaluation; q188/q189 hash-match
    * the same oracles either way, ~2× cheaper fused.
    */
  private def linesFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      call_function("graft_lines", col("doc_id"), col("text"))
        .as(Seq("line_no", "line")))

  /** All lines joined to their corpus doc-frequency, keep = df within
    * bound. The df side aggregates BEFORE the join (lines → distinct-doc
    * counts per 8-byte hash key), so the join's build side is the line
    * vocabulary, not the corpus — orders of magnitude smaller at 100 TB.
    */
  private def flaggedLines(s: SparkSession, dir: String): DataFrame = {
    val lines = linesFrame(Tables.documents(s, dir)).withColumn("h", xxhash64(col("line")))
    val docFreq = lines.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
    lines.join(docFreq, "h")
      .withColumn("keep", col("nd") <= MaxDocFreq)
  }

  private val HeadersSqlList = Headers.map(h => s"'$h'").mkString("[", ", ", "]")
  private val FootersSqlList = Footers.map(f => s"'$f'").mkString("[", ", ", "]")

  private val linesCte =
    s"""base AS (
      SELECT doc_id, source, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents),
    content AS (
      SELECT doc_id, source, CAST(g + 1 AS INT) AS line_no,
        array_to_string(ws[(CAST(g AS INT) * $LineWords + 1):(CAST(g AS INT) * $LineWords + $LineWords)], ' ') AS line
      FROM (SELECT doc_id, source, ws,
              unnest(range(0, CAST(ceil(len(ws) / ${LineWords.toDouble}) AS BIGINT))) AS g
            FROM base)),
    lines AS (
      SELECT doc_id, source, 0 AS line_no,
        ($HeadersSqlList)[CAST(doc_id % ${Headers.size} AS INT) + 1] AS line FROM base
      UNION ALL
      SELECT doc_id, source, line_no, line FROM content
      UNION ALL
      SELECT doc_id, source, CAST(ceil(len(ws) / ${LineWords.toDouble}) AS INT) + 1 AS line_no,
        ($FootersSqlList)[CAST(doc_id % ${Footers.size} AS INT) + 1] AS line FROM base),
    df AS (
      SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY 1),
    flagged AS (
      SELECT l.doc_id, l.source, l.line_no, l.line, (d.nd <= $MaxDocFreq) AS keep
      FROM lines l JOIN df d USING (line))"""

  /** Per-doc line dedup: line counts before/after the doc-frequency rule
    * and the md5 of the rebuilt (newline-joined, original-order) text —
    * the hash proves the rebuild kept order and dropped exactly the
    * boilerplate. Null hash iff everything was boilerplate.
    */
  val q188 = GQuery(
    "q188_line_dedup",
    (s, dir) => {
      val kept = collect_list(when(col("keep"), struct(col("line_no"), col("line"))))
      flaggedLines(s, dir)
        .groupBy("doc_id", "source")
        .agg(
          count(lit(1)).cast("int").as("n_lines"),
          sum(col("keep").cast("int")).cast("int").as("n_kept"),
          kept.as("kl"))
        .withColumn("rebuilt_hash",
          when(col("n_kept") === 0, lit(null).cast("string"))
            .otherwise(md5(array_join(
              transform(sort_array(col("kl")), x => x.getField("line")), "\n"))))
        .select("doc_id", "source", "n_lines", "n_kept", "rebuilt_hash")
        .orderBy("doc_id")
    },
    Some(s"""WITH $linesCte
      SELECT doc_id, source,
        CAST(count(*) AS INTEGER) AS n_lines,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
        md5(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY line_no)) AS rebuilt_hash
      FROM flagged GROUP BY doc_id, source ORDER BY doc_id"""))

  /** Per-source removal report: the rate of lines dropped as boilerplate
    * — the number a curation run is judged by (CCNet reports ~these).
    */
  val q189 = GQuery(
    "q189_boilerplate_rate",
    (s, dir) =>
      flaggedLines(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_lines"),
          sum((!col("keep")).cast("int")).cast("long").as("n_removed"))
        .withColumn("removal_rate",
          Metrics.canonRound(col("n_removed").cast("double") / col("n_lines"), 4))
        .orderBy("source"),
    Some(s"""WITH $linesCte
      SELECT source,
        count(*) AS n_lines,
        CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        floor(CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS removal_rate
      FROM flagged GROUP BY source ORDER BY source"""))

  // --- URL canonicalization / domain curation ------------------------

  /** Deterministic URL synthesis (the fixture ships none): subdomain /
    * name / TLD / default port / trailing slash / utm-tracking variants
    * all derive from doc_id, with the path colliding across docs
    * (doc_id % 50) so canonicalization genuinely MERGES — the C4/
    * RefinedWeb URL-dedup story, oracle-checkable like the PII family.
    */
  private val Tlds = Seq("com", "org", "net", "io", "edu")
  private val Subs = Seq("www.", "blog.", "WWW.", "")
  private val BlockedDomains = Seq(
    "site13.com", "site42.net", "site7.io", "site80.edu", "site55.org")

  private def rawUrl: Column = {
    val id = col("doc_id")
    concat(lit("https://"),
      element_at(array(Subs.map(lit): _*), pmod(id, lit(Subs.size)).cast("int") + 1),
      lit("site"), pmod(id, lit(97)).cast("string"), lit("."),
      element_at(array(Tlds.map(lit): _*), pmod(id, lit(Tlds.size)).cast("int") + 1),
      when(pmod(id, lit(7)) === 0, lit(":443")).otherwise(lit("")),
      lit("/articles/"), pmod(id, lit(50)).cast("string"),
      when(pmod(id, lit(3)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(id, lit(6)) === 0, concat(lit("?utm_source=feed&id="), pmod(id, lit(10)).cast("string")))
        .when(pmod(id, lit(6)) === 3, concat(lit("?id="), pmod(id, lit(10)).cast("string")))
        .otherwise(lit("")))
  }

  private val rawUrlSql =
    """'https://'
      || (['www.', 'blog.', 'WWW.', ''])[CAST(doc_id % 4 AS INT) + 1]
      || 'site' || CAST(doc_id % 97 AS VARCHAR) || '.'
      || (['com', 'org', 'net', 'io', 'edu'])[CAST(doc_id % 5 AS INT) + 1]
      || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
      || '/articles/' || CAST(doc_id % 50 AS VARCHAR)
      || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR)
              WHEN doc_id % 6 = 3 THEN '?id=' || CAST(doc_id % 10 AS VARCHAR)
              ELSE '' END"""

  /** Canonicalization steps (fixed order, each regexp matches at most
    * once so Spark's replace-all ≡ DuckDB's replace-first): strip the
    * default :443 port, lowercase the host, drop utm_* tracking params
    * (and any dangling ?/&), drop the trailing slash whether or not a
    * query string follows. All patterns sit in the RE2 ∩ java.regex
    * common subset with no backreferences.
    */
  private def canonicalize(u: Column): Column = {
    val noPort = regexp_replace(u, ":443", "")
    val host = lower(regexp_extract(noPort, "^https://([^/]+)", 1))
    val rest = regexp_extract(noPort, "^https://[^/]+(.*)$", 1)
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(regexp_replace(rest, "utm_[a-z]+=[^&]*&?", ""), "[?&]$", ""),
        "/\\?", "?"),
      "/$", "")
    concat(lit("https://"), host, cleaned)
  }

  private def canonicalizeSql(u: String): String = {
    val noPort = s"regexp_replace($u, ':443', '')"
    val host = s"lower(regexp_extract($noPort, '^https://([^/]+)', 1))"
    val rest = s"regexp_extract($noPort, '^https://[^/]+(.*)$$', 1)"
    val cleaned = s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($rest, 'utm_[a-z]+=[^&]*&?', ''), '[?&]$$', ''), '/\\?', '?'), '/$$', '')"
    s"'https://' || $host || $cleaned"
  }

  /** Per-doc URL curation: raw → canonical URL, registrable domain, and
    * the blocklist verdict. One codegen scan (regexps + literal isin),
    * no shuffle before the orderBy — the same shape as q186.
    */
  val q192 = GQuery(
    "q192_url_canonical",
    (s, dir) => {
      val canon = canonicalize(col("url"))
      val domain = regexp_extract(
        lower(regexp_extract(col("url"), "^https://([^/:]+)", 1)),
        "([a-z0-9]+\\.[a-z]+)$", 1)
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl.as("url"))
        .select(col("doc_id"), col("url"), canon.as("canon_url"), domain.as("domain"))
        .withColumn("is_blocked",
          col("domain").isin(BlockedDomains: _*).cast("int"))
        .orderBy("doc_id")
    },
    Some(s"""WITH u AS (SELECT doc_id, $rawUrlSql AS url FROM documents)
      SELECT doc_id, url,
        ${canonicalizeSql("url")} AS canon_url,
        regexp_extract(lower(regexp_extract(url, '^https://([^/:]+)', 1)), '([a-z0-9]+\\.[a-z]+)$$', 1) AS domain,
        CAST(regexp_extract(lower(regexp_extract(url, '^https://([^/:]+)', 1)), '([a-z0-9]+\\.[a-z]+)$$', 1) IN (${BlockedDomains.map(d => s"'$d'").mkString(", ")}) AS INTEGER) AS is_blocked
      FROM u ORDER BY doc_id"""))

  /** Per-domain rollup: URL counts before/after canonical dedup (the
    * merge rate utm/port/slash/case variants produce), plus the
    * blocklist flag. Hash agg on the domain key; at 100 TB the
    * blocklist becomes a broadcast join instead of a literal isin —
    * same plan shape.
    */
  val q193 = GQuery(
    "q193_domain_rollup",
    (s, dir) => {
      val canon = canonicalize(col("url"))
      val domain = regexp_extract(
        lower(regexp_extract(col("url"), "^https://([^/:]+)", 1)),
        "([a-z0-9]+\\.[a-z]+)$", 1)
      Tables.documents(s, dir)
        .select(col("doc_id"), rawUrl.as("url"))
        .select(domain.as("domain"), canon.as("canon_url"))
        .groupBy("domain")
        .agg(
          count(lit(1)).as("n_urls"),
          countDistinct(col("canon_url")).as("n_canonical"))
        .withColumn("dedup_ratio",
          Metrics.canonRound(
            lit(1.0) - col("n_canonical").cast("double") / col("n_urls"), 4))
        .withColumn("is_blocked",
          col("domain").isin(BlockedDomains: _*).cast("int"))
        .orderBy("domain")
    },
    Some(s"""WITH u AS (SELECT doc_id, $rawUrlSql AS url FROM documents),
      c AS (
        SELECT regexp_extract(lower(regexp_extract(url, '^https://([^/:]+)', 1)), '([a-z0-9]+\\.[a-z]+)$$', 1) AS domain,
          ${canonicalizeSql("url")} AS canon_url
        FROM u)
      SELECT domain,
        count(*) AS n_urls,
        CAST(count(DISTINCT canon_url) AS BIGINT) AS n_canonical,
        floor((1.0 - CAST(count(DISTINCT canon_url) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4 AS dedup_ratio,
        CAST(domain IN (${BlockedDomains.map(d => s"'$d'").mkString(", ")}) AS INTEGER) AS is_blocked
      FROM c GROUP BY domain ORDER BY domain"""))

  // --- unicode text normalization ------------------------------------

  /** Deterministic messy-unicode injection (the fixture text is pure
    * ASCII): a third of docs get a DECOMPOSED accent (e + U+0301) plus a
    * doubled space, a third the PRECOMPOSED form of the same visible
    * string, and a quarter a no-break space — the canonical-equivalence
    * traps every crawled corpus carries. Oracle side builds the same
    * string via chr() code points.
    */
  private def messyText: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(pmod(id, lit(3)) === 0, lit(" cafe\u0301  menu"))
        .when(pmod(id, lit(3)) === 1, lit(" caf\u00e9 menu"))
        .otherwise(lit("")),
      when(pmod(id, lit(4)) === 0, lit("\u00a0tail")).otherwise(lit("")))
  }

  private val messySql =
    """SELECT doc_id, source, text
      || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || '  menu'
              WHEN doc_id % 3 = 1 THEN ' caf' || chr(233) || ' menu'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 0 THEN chr(160) || 'tail' ELSE '' END AS t
      FROM documents"""

  /** Unicode normalization — the stage that must run BEFORE any hashing
    * dedup stage, because canonically-equivalent strings (composed vs
    * decomposed accents) hash differently while rendering identically.
    * NFC via the native `graft_nfc` codegen expression (java.text.
    * Normalizer — Spark ships no normalizer; DuckDB's nfc_normalize
    * implements the same UCD algorithm, so outputs are byte-identical),
    * then NBSP→space and whitespace-run collapse. Emits the per-doc
    * before/after code-point lengths, the changed flag, and the md5 of
    * the normalized text — the witness that both engines produced the
    * same canonical bytes.
    *
    * Scale: one codegen scan, no shuffle before the orderBy (the q186
    * shape). At 100 TB this IS the first map stage of the pipeline.
    */
  val q201 = GQuery(
    "q201_text_normalize",
    (s, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(call_function("graft_nfc", col("t")), "\u00a0", " "),
        " +", " "))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), messyText.as("t"))
        .select(col("doc_id"), col("source"),
          length(col("t")).as("n_before"),
          length(norm).as("n_after"),
          (norm =!= col("t")).cast("int").as("changed"),
          md5(norm).as("norm_hash"))
        .orderBy("doc_id")
    },
    Some(s"""WITH aug AS ($messySql),
      n AS (
        SELECT doc_id, source, t,
          trim(regexp_replace(regexp_replace(nfc_normalize(t), chr(160), ' ', 'g'), ' +', ' ', 'g')) AS norm
        FROM aug)
      SELECT doc_id, source,
        CAST(length(t) AS INTEGER) AS n_before,
        CAST(length(norm) AS INTEGER) AS n_after,
        CAST(norm <> t AS INTEGER) AS changed,
        md5(norm) AS norm_hash
      FROM n ORDER BY doc_id"""))

  /** Sliding-window document chunking — the RAG/context-window prep
    * stage that SPLITS long documents (q113's packing plan BINS whole
    * docs; this produces the chunk manifest a retrieval index or a
    * fixed-context trainer actually ingests): 32-token windows at stride
    * 24 (8-token overlap), chunk k covering tokens [24k+1, 24k+32],
    * emitted while 24k < n_tokens so every token lands in ≥1 chunk and
    * the tail chunk may run short. Each chunk row carries provenance
    * (doc_id, chunk_id, start_tok, n_tokens, is_full) plus an md5
    * witness of the re-joined chunk text, so the oracle pins the exact
    * reconstruction, not just the counts.
    *
    * Scale: one scan through the FUSED `graft_chunks` Generator
    * (plans.ChunksGenerator — string → chunk rows with zero
    * intermediate arrays; ChunksGeneratorSpec proves ≡ the HOF
    * transform+posexplode composition, and the oracle kept
    * hash-matching across the swap), no shuffle before the output
    * sort. Chunk count ≈ corpus tokens / stride.
    */
  val q218 = GQuery(
    "q218_doc_chunking",
    (s, dir) => {
      val C = 32; val S = 24
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .select(col("doc_id"),
          call_function("graft_chunks", col("text"), lit(C), lit(S)).as(Seq("chunk_id", "chunk")))
      chunks.select(
          col("doc_id"), col("chunk_id"),
          (col("chunk_id") * S + 1).as("start_tok"),
          size(split(col("chunk"), " ")).as("n_tokens"),
          (size(split(col("chunk"), " ")) === C).cast("int").as("is_full"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
        FROM documents),
      ch AS (
        SELECT doc_id, n, unnest(range(0, ((n - 1) // 24) + 1)) AS k
        FROM toks),
      cut AS (
        SELECT c.doc_id, c.k AS chunk_id, c.k * 24 + 1 AS start_tok,
          array_to_string(list_slice(t.t, c.k * 24 + 1, least(c.k * 24 + 32, c.n)), ' ') AS chunk
        FROM ch c JOIN toks t USING (doc_id))
      SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        CAST(start_tok AS INTEGER) AS start_tok,
        CAST(len(string_split(chunk, ' ')) AS INTEGER) AS n_tokens,
        CAST(len(string_split(chunk, ' ')) = 32 AS INTEGER) AS is_full,
        md5(chunk) AS chunk_md5
      FROM cut ORDER BY doc_id, chunk_id"""))

  def all: Seq[GQuery] = Seq(q186, q187, q188, q189, q192, q193, q201, q218)
}
