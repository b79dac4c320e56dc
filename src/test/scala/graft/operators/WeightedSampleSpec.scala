package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

/** Priority sampling (q229): the bounded-heap path must equal the
  * window formulation exactly, and the Duffield-Lund-Thorup estimator
  * invariants must hold on the fixture.
  */
class WeightedSampleSpec extends SparkSpec {

  private lazy val out =
    WeightedSample.prioritySample(Tables.documents(spark, sf001)).cache()

  test("sample size per group is min(k, group size)") {
    val sizes = out.groupBy("lang").agg(count(lit(1)).as("n"),
        max("rk").as("maxrk")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    val groupN = Tables.documents(spark, sf001).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == groupN.keySet)
    for ((lang, (n, maxrk)) <- sizes) {
      assert(n == math.min(16L, groupN(lang)), s"$lang sample size")
      assert(maxrk.toLong == n, s"$lang ranks must be 1..n")
    }
    // every fixture lang exceeds k, so the registry query always runs
    // the thresholded regime; the exhaustive regime is pinned below on
    // a thinned frame
    assert(groupN.values.forall(_ > 16))
  }

  test("fully-sampled groups carry w_hat = w (DLT exhaustive case, " +
      "thinned frame)") {
    val thin = Tables.documents(spark, sf001).filter(col("doc_id") % 29 === 0)
    val thinN = thin.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(thinN.values.forall(_ <= 16) && thinN.nonEmpty)
    val small = WeightedSample.prioritySample(thin)
    assert(small.count() == thinN.values.sum)
    assert(small.filter(col("w_hat_r") =!= col("w").cast("double")).count() == 0)
    // with every item sampled, the estimator total is exactly the truth
    assert(small.filter(col("est_total") =!=
      col("exact_total").cast("double")).count() == 0)
  }

  test("thresholded groups: w_hat = max(w, tau) >= w, and sampled " +
      "priorities all exceed tau") {
    val en = out.filter(col("lang") === "en")
    assert(en.filter(col("w_hat_r") < col("w").cast("double")).count() == 0)
    // tau is the (k+1)-th priority: every kept priority is >= every
    // estimator floor that exceeds the raw weight
    val tauish = en.filter(col("w_hat_r") > col("w").cast("double"))
      .agg(max("w_hat_r")).head.getDouble(0)
    assert(en.agg(min("prio_r")).head.getDouble(0) >= tauish,
      "kept priorities must sit above the threshold")
  }

  test("bounded-heap agg equals the window formulation") {
    val docs = Tables.documents(spark, sf001)
    val prio = col("n_chars").cast("double") * lit(1.152921504606846976e18) /
      conv(substring(md5(concat_ws(":", col("doc_id"), col("text"))), 1, 15), 16, 10)
        .cast("long").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("prio").desc, col("doc_id"))
    val win = docs.select(col("lang"), col("doc_id"), prio.as("prio"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 16)
      .select(col("lang"), col("rk").cast("int").as("rk"), col("doc_id"))
    val heap = out.select(col("lang"), col("rk"), col("doc_id"))
    assert(win.exceptAll(heap).count() == 0 && heap.exceptAll(win).count() == 0)
  }

  test("state merge is associative: topState(topState(A) ∪ B) = topState(A ∪ B)") {
    val docs = Tables.documents(spark, sf001)
    val pr = WeightedSample.priorities(docs)
    val a = pr.filter(col("doc_id") % 2 === 0)
    val b = pr.filter(col("doc_id") % 2 =!= 0)
    val merged = WeightedSample.topState(
      WeightedSample.topState(a).select("lang", "prio", "doc_id").unionByName(b))
    val oneShot = WeightedSample.topState(a.unionByName(b))
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0)
  }

  test("streamed state equals the batch sample row-for-row (q233 ≡ q229)") {
    val streamed = graft.streaming.SampleStreams
      .streamingPrioritySample(spark, sf001)
    assert(streamed.exceptAll(out).count() == 0 &&
      out.exceptAll(streamed).count() == 0)
  }

  test("est_total is the exact sum of the sampled estimators") {
    val bad = out.groupBy("lang", "est_total")
      .agg(graft.functions.Metrics.exactSum(col("w_hat_r")).as("s"))
      .filter(abs(col("s") - col("est_total")) > 1e-9).count()
    assert(bad == 0)
  }
}
