package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables
import graft.functions.Metrics

/** Decontamination on ingest: the streaming twin of the batch q109 scan.
  * Incoming documents are checked for exact 8-gram overlap against a
  * STATIC benchmark n-gram set as they land, so contaminated documents
  * are flagged before they ever enter the training corpus (the batch
  * query finds them after the fact).
  *
  * Dataflow: file stream → graft_ngrams generator → xxhash64 keys →
  * stream-static equi join against the distinct-reduced benchmark set →
  * one stateful aggregation (collect_set per doc — state is bounded by
  * the CONTAMINATED volume only, because the join prunes clean n-grams
  * before any state is touched). Per-doc n-gram totals are batch-side
  * (they need no cross-batch state and joining them after the stream
  * keeps the streaming query at ONE stateful operator — dedup-then-agg
  * would be a second one, which complete mode does not compose).
  *
  * Arrival order cannot change the result (overlap is a set property,
  * unlike q100's earlier-wins near-dup), so the collected output equals
  * the batch query for ANY micro-batching of the input — the oracle is
  * shared with q109 verbatim, and StreamingSpec pins the multi-batch
  * case.
  */
object ContaminationStreams {

  /** @param source  the incoming documents as a parquet file stream
    * @param landing the path (or glob) `source` streams; the per-doc
    *                n-gram totals are a batch read of it with
    *                `source`'s schema, so they cover exactly the
    *                streamed documents
    */
  def contaminationStream(spark: SparkSession, source: DataFrame, landing: String,
                          staticDir: String, mod: Long = 17, n: Int = 8): DataFrame =
    StreamHarness.withStreamConf(spark) {
    // static side: benchmark n-gram set, distinct-reduced (broadcast-sized
    // relative to the corpus; Spark re-plans it into every micro-batch)
    val bench = Tables.documents(spark, staticDir)
      .filter(col("doc_id") % mod === 0)
      .select(call_function("graft_ngrams", col("text"), lit(n)).as("ng_str"))
      .select(xxhash64(col("ng_str")).as("ng"))
      .distinct()

    val hitsQuery = source
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"), call_function("graft_ngrams", col("text"), lit(n)).as("ng_str"))
      .select(col("doc_id"), xxhash64(col("ng_str")).as("ng"))
      .join(bench, "ng")
      .groupBy("doc_id")
      // collect_set, not count: the generator emits duplicate n-grams
      // within a document and the per-doc distinct must happen somewhere —
      // doing it inside the one aggregation keeps the query single-stateful
      .agg(collect_set(col("ng")).as("ngs"))

    val hits = StreamHarness.runToMemory(hitsQuery, OutputMode.Complete)()
      .select(col("doc_id"), size(col("ngs")).cast("long").as("n_contaminated"))

    // batch-side totals (row-local per doc — no stream state needed),
    // over the LANDED documents, not staticDir: the denominators must
    // describe the documents that actually streamed. Reading staticDir
    // only worked while every caller fed a byte-identical mirror of it —
    // a landing doc absent from staticDir silently vanished from the
    // report (inner join) and a same-id/different-text doc got the wrong
    // n_ngrams. The stream is fully drained above, so a batch read of
    // the landing files sees every one of them.
    val totals = spark.read.schema(source.schema).parquet(landing)
      .filter(col("doc_id") % mod =!= 0)
      .select(col("doc_id"), call_function("graft_ngrams", col("text"), lit(n)).as("ng_str"))
      .select(col("doc_id"), xxhash64(col("ng_str")).as("ng"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))

    hits.join(totals, "doc_id")
      .select(col("doc_id"), col("n_contaminated"), col("n_ngrams"),
        Metrics.canonRound(col("n_contaminated").cast("double") / col("n_ngrams").cast("double"), 4)
          .as("contamination_rate"))
      .orderBy("doc_id")
  }
}
