package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING near-duplicate detection — the stateful twin of the batch
  * MinHash-LSH pipeline (DedupQueries/DedupPipeline). Batch LSH can only
  * pair documents inside one corpus snapshot; an ingestion pipeline needs
  * "is this NEW document a near-dup of anything seen SO FAR", across
  * micro-batches, without re-scanning history. The LSH bucket IS the
  * state key: per (band, band-hash) bucket, keep the (doc_id, signature)
  * entries seen so far (capped like the batch bucket cap), and compare
  * each arriving signature against its bucket's survivors only — the
  * same sub-quadratic candidate structure as the batch band join, but
  * maintained incrementally by flatMapGroupsWithState.
  *
  * Signatures match the batch `DedupQueries.minhashSignatures` exactly
  * (same xxhash64 Kirsch-Mitzenmacher mixing), so the streaming pair set
  * is spec-compared against the batch pair set on the same corpus.
  *
  * Scale notes: state size is (buckets × cap) signature entries, bounded
  * exactly like the batch bucket cap bounds the band join; a production
  * deployment adds state TTL (GroupStateTimeout) to age out buckets —
  * dedup-against-recent-history — which changes no dataflow.
  */
object DedupStreams {

  val NumHashes = 16
  val Bands = 8

  case class DocBand(doc_id: Long, band: Int, bh: String, sig: Seq[Long])
  case class BucketState(entries: List[(Long, Seq[Long])])
  case class DupOut(doc_id: Long, dup_of: Long, n_eq: Int)

  /** Per-document MinHash signature in compiled Scala, BIT-IDENTICAL to
    * the batch explode+min-agg formulation: same regex split, same shingle
    * strings, same xxhash64 evaluation sequence — h1 = xxhash64(sh) (seed
    * 42 over the UTF-8 bytes), h2 = xxhash64(sh, lit(1)) (h1 becomes the
    * seed for hashing the int literal 1), slot i = h1 XOR rotl(h2, i) —
    * via the same XxHash64Function Spark's expression calls. Parity is
    * spec-asserted signature-by-signature against minhashSignatures.
    *
    * Why a typed function and not Column expressions here: signatures are
    * PER-ROW in the streaming pipeline (no explode+groupBy reshaping
    * available without stateful aggregation), and every per-row Column
    * formulation of a 16-slot fold is an interpreted HOF chain — measured
    * 70s (16 transform columns) and 14s (single aggregate fold) for the
    * corpus-wide q100, vs ~2s compiled. None for <2-token docs.
    */
  private[streaming] def sigOf(text: String, nHashes: Int = NumHashes): Option[Array[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    if (text == null) return None
    val toks = text.split(" ", -1)
    if (toks.length < 2) return None
    val acc = Array.fill(nHashes)(Long.MaxValue)
    var i = 0
    while (i < toks.length - 1) {
      val u = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      val h1 = XxHash64Function.hash(u, org.apache.spark.sql.types.StringType, 42L)
      val h2 = XxHash64Function.hash(1, org.apache.spark.sql.types.IntegerType, h1)
      var j = 0
      while (j < nHashes) {
        val v = h1 ^ java.lang.Long.rotateLeft(h2, j)
        if (v < acc(j)) acc(j) = v
        j += 1
      }
      i += 1
    }
    Some(acc)
  }

  /** md5/Kirsch-Mitzenmacher signature in compiled Scala, BIT-IDENTICAL to
    * the batch `DedupQueries.minhashSignaturesMd5`: md5 hex of the shingle's
    * UTF-8 bytes, h1/h2 = hex[0,15) / hex[16,31) parsed base-16 (60-bit
    * positive longs, exactly Spark's conv(substring(md,1,15),16,10)),
    * slot_i = h1 XOR i·h2. The md5 twin exists so the STREAMING pipeline is
    * DuckDB-oracle-checkable end to end (q100); the xxhash64 path above
    * stays the throughput default. Parity is spec-asserted
    * signature-by-signature against the batch formulation.
    */
  private[streaming] def sigOfMd5(text: String, nHashes: Int = 8): Option[Array[Long]] = {
    if (text == null) return None
    val toks = text.split(" ", -1)
    if (toks.length < 2) return None
    val digest = java.security.MessageDigest.getInstance("MD5")
    val acc = Array.fill(nHashes)(Long.MaxValue)
    var i = 0
    while (i < toks.length - 1) {
      val bytes = digest.digest((toks(i) + " " + toks(i + 1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.reset()
      val hex = new StringBuilder(32)
      bytes.foreach(b => hex.append(f"${b & 0xff}%02x"))
      val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(16, 31), 16)
      var j = 0
      while (j < nHashes) {
        val v = h1 ^ (j.toLong * h2)
        if (v < acc(j)) acc(j) = v
        j += 1
      }
      i += 1
    }
    Some(acc)
  }

  /** Streaming (doc_id, text) → (doc_id, dup_of, n_eq) pairs, where
    * dup_of is an earlier-seen document agreeing on ≥ minAgree of the
    * signature slots and sharing at least one LSH band bucket. Runs the
    * `source` stream to completion and returns the collected result —
    * test/local harness shape, like the other EventStreams entry points.
    */
  def nearDupStream(spark: SparkSession, source: DataFrame,
                    minAgree: Int = NumHashes / 2, bucketCap: Int = 50): DataFrame =
    runNearDupStream(spark, source, sigOf(_),
      bands = Bands, rows = NumHashes / Bands,
      bandKey = (sig, b, r) => xxhash64(slice(sig, b * r + 1, r).cast("string")).cast("string"),
      minAgree = minAgree, bucketCap = bucketCap)

  /** The md5/K-M twin of [[nearDupStream]] (8 slots, 4 string-keyed bands —
    * the q56/q83/q99 signature scheme): identical stateful dataflow, but
    * every step is engine-reproducible, so the registry's q100 entry is
    * DuckDB-oracle-checked rather than rows-only. The string band key is
    * the slot values joined by '-' (no bucket-hash collisions to reason
    * about cross-engine).
    */
  def nearDupStreamMd5(spark: SparkSession, source: DataFrame,
                       nHashes: Int = 8, minAgree: Int = 4, bucketCap: Int = 50): DataFrame =
    runNearDupStream(spark, source, sigOfMd5(_, nHashes),
      bands = nHashes / 2, rows = 2,
      bandKey = (sig, b, r) =>
        array_join(transform(slice(sig, b * r + 1, r), _.cast("string")), "-"),
      minAgree = minAgree, bucketCap = bucketCap)

  private def runNearDupStream(spark: SparkSession, source: DataFrame,
                               sigFn: String => Option[Array[Long]],
                               bands: Int, rows: Int,
                               bandKey: (Column, Int, Int) => Column,
                               minAgree: Int, bucketCap: Int): DataFrame =
    StreamHarness.withStreamConf(spark) {
    import spark.implicits._
    val docs = source
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        sigFn(text).map(sig => (id, sig.toSeq)) })
      .toDF("doc_id", "sig")
    val bandedDocs = docs.select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"), bandKey(col("sig"), b, rows).as("bh"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"), col("sig"))
      .as[DocBand]

    def update(key: (Int, String), incoming: Iterator[DocBand],
               state: GroupState[BucketState]): Iterator[DupOut] = {
      // deterministic arrival order inside a batch; dedup multi-band rows
      val sorted = incoming.toSeq.sortBy(_.doc_id)
      var entries = state.getOption.map(_.entries).getOrElse(Nil)
      var out = List.empty[DupOut]
      sorted.foreach { d =>
        if (!entries.exists(_._1 == d.doc_id)) {
          entries.foreach { case (id, sig) =>
            // emit on ANY stored match, output normalized (larger id,
            // smaller id): the old `stored < arriving` guard silently
            // dropped the pair whenever the smaller-id document landed
            // in a LATER micro-batch (review finding, r14 — ascending
            // fixtures never exercised it). Normalized emission keeps
            // the collapsed pair set equal to the batch LSH pair set
            // for ANY micro-batching of the input.
            val nEq = sig.iterator.zip(d.sig.iterator).count { case (a, b) => a == b }
            if (nEq >= minAgree)
              out ::= DupOut(math.max(id, d.doc_id), math.min(id, d.doc_id), nEq)
          }
          // cap like the batch bucket cap: an over-dense bucket stops
          // accumulating candidates instead of going quadratic
          if (entries.size < bucketCap) entries = (d.doc_id, d.sig) :: entries
        }
      }
      state.update(BucketState(entries))
      out.reverseIterator
    }

    val dups = bandedDocs
      .groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
    // a pair found through several bands appears once per band — collapse
    StreamHarness.runToMemory(dups, OutputMode.Append)()
      .groupBy("doc_id", "dup_of").agg(max("n_eq").as("n_eq"))
      .orderBy("doc_id", "dup_of")
  }

  /** WINDOWED cross-source streaming dedup: two ingestion streams (a
    * reference feed and an incoming feed), and an incoming document only
    * counts as a duplicate if the SAME content fingerprint appeared on the
    * reference feed within the preceding `windowMinutes` of event time —
    * "dedup against recent history", the shape of a production pipeline
    * that tolerates re-publication after a cool-off but kills short-range
    * mirrors. Implemented as a watermarked stream-stream interval join on
    * the md5 fingerprint (q138's join pattern applied to dedup): state on
    * both sides is bounded by watermark + window, so this runs forever on
    * unbounded feeds — unlike the NoTimeout bucket state above, nothing
    * here grows with history.
    *
    * Event time is synthesized deterministically from doc_id (one second
    * per id past 2024-01-01) — the fixture has no ingestion timestamp; a
    * real deployment uses the landing time. The per-incoming-doc rollup
    * (earliest reference witness + match count) is the batch finishing
    * step on the sink.
    */
  def windowedCrossSourceDedup(spark: SparkSession, source: DataFrame,
                               windowMinutes: Int = 60): DataFrame =
    StreamHarness.withStreamConf(spark) {
    // canonical fingerprint (q43's sorted-distinct-token form): catches
    // reorder-only mirrors, which is what actually crosses source feeds
    val canonFp = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
    // feed parity from the trailing digits; a source that doesn't carry
    // them routes to the INCOMING feed (coalesce false) rather than
    // silently vanishing from both — the regexp_extract+coalesce form is
    // mirrored verbatim in the q146 oracle so malformed sources behave
    // identically cross-engine (a bare substring cast would NULL here
    // but raise in DuckDB)
    val docs = source
      .select(col("doc_id"), col("source"), canonFp.as("fp"),
        timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"),
        coalesce(regexp_extract(col("source"), "(\\d+)$", 1).cast("int") % 2 === 0,
          lit(false)).as("is_ref"))
    val ref = docs.filter(col("is_ref"))
      .select(col("doc_id").as("a_id"), col("fp").as("a_fp"), col("ts").as("a_ts"))
      .withWatermark("a_ts", s"${2 * windowMinutes} minutes")
    val inc = docs.filter(!col("is_ref"))
      .select(col("doc_id").as("b_id"), col("fp").as("b_fp"), col("ts").as("b_ts"))
      .withWatermark("b_ts", s"${2 * windowMinutes} minutes")
    val joined = inc.join(ref,
      expr(s"""a_fp = b_fp AND
               a_ts >= b_ts - INTERVAL $windowMinutes MINUTES AND a_ts <= b_ts"""))
    StreamHarness.runToMemory(joined, OutputMode.Append)()
      .groupBy(col("b_id").as("doc_id"))
      .agg(min("a_id").as("dup_of"), count(lit(1)).as("n_ref_dups"))
      .orderBy("doc_id")
  }
}
