package graft.ml

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.functions.Metrics

/** ML pipeline regression test (SURVEY.md §5.2 item 6): the reference's own
  * workload shape on synthetic data with a known signal — the hybrid model
  * must beat a fixed SMAPE bar, reproducibly (fixed seeds everywhere).
  */
class SalesMlSpec extends SparkSpec {

  lazy val sales = SalesData.generate(spark, "2018-01-01", "2019-02-28")
  lazy val prepared = {
    val (df, _) = SalesFeatures.prepare(spark, sales)
    df.cache()
  }
  lazy val train = prepared.filter(to_date(col("date")) <= lit("2018-12-31"))
  lazy val valid = prepared.filter(to_date(col("date")) > lit("2018-12-31"))

  private def smapeOf(scored: org.apache.spark.sql.DataFrame): Double =
    scored.select(Metrics.smape(col("num_sold"), col("prediction")).cast("double"))
      .head().getDouble(0)

  test("q63 and q64 run through the query registry") {
    val q63 = SparkEntry.queries("q63_boosted_hybrid")(spark, sf001).collect()
    assert(q63.length == 18, "one row per series")
    q63.foreach { r =>
      val smape = r.getAs[Double]("smape")
      assert(r.getAs[Long]("n") > 0 && smape > 0 && smape < 200, r.toString)
    }
    val q64 = SparkEntry.queries("q64_stacking")(spark, sf001).collect()
    assert(q64.length == 1)
    val r = q64.head
    assert(r.getAs[Long]("n_base_models") == 3L)
    Seq("smape", "smape_corrected").foreach(c =>
      assert(java.lang.Double.isFinite(r.getAs[Double](c)), r.toString))
  }

  test("synthetic sales generator is deterministic and fully populated") {
    assert(sales.count() == (365 + 59) * 18)
    val a = sales.agg(sum("num_sold")).head().getDouble(0)
    val b = SalesData.generate(spark, "2018-01-01", "2019-02-28").agg(sum("num_sold")).head().getDouble(0)
    assert(a == b)
  }

  test("BoostedHybrid beats the naive and the SMAPE bar") {
    val model = BoostedHybrid(gbtMaxIter = 8, gbtMaxDepth = 4).fit(train)
    val s = smapeOf(model.transform(valid))
    assert(s < 12.0, s"hybrid SMAPE $s")
    // naive baseline: global mean
    val mean = train.agg(avg("num_sold")).head().getDouble(0)
    val naive = smapeOf(valid.withColumn("prediction", lit(mean)))
    assert(s < naive, s"hybrid $s should beat naive $naive")
  }

  test("FM stage-1 (the MLPRegressor stand-in, E7) trains and beats the SMAPE bar") {
    // the factorization machine is the nonlinear-interaction stage the
    // reference's MLPRegressor provides; on this synthetic signal it must
    // at least clear the same bar as the linear hybrid (on the full
    // 4-year parity frame it scores ~6.5 vs ~13.6 linear — BENCH.md)
    val model = BoostedHybrid(stage1 = "fm", gbtMaxIter = 8, gbtMaxDepth = 4,
      fmMaxIter = 30).fit(train)
    val s = smapeOf(model.transform(valid))
    assert(s < 12.0, s"fm hybrid SMAPE $s")
  }

  test("SmapeEvaluator plugs into the Evaluator API") {
    val model = BoostedHybrid(gbtMaxIter = 5, gbtMaxDepth = 3).fit(train)
    val ev = new SmapeEvaluator().setLabelCol("num_sold").setPredictionCol("prediction")
    val s = ev.evaluate(model.transform(valid))
    assert(s > 0 && s < 200 && !ev.isLargerBetter)
  }

  test("scale correction never hurts relative to weight=1.0") {
    val model = BoostedHybrid(gbtMaxIter = 5, gbtMaxDepth = 3).fit(train)
    val scored = model.transform(valid).select("num_sold", "prediction").cache()
    val at1 = smapeOf(scored)
    val (w, best) = ScaleCorrection.bestWeight(scored, "num_sold", "prediction")
    assert(best <= at1 + 1e-9, s"corrected $best vs raw $at1 (w=$w)")
    assert(w >= 0.97 && w <= 1.02)
  }

  test("SmapeEvaluator drives TrainValidationSplit model selection (E11)") {
    import org.apache.spark.ml.regression.LinearRegression
    import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
    val lr = new LinearRegression().setFeaturesCol("features").setLabelCol("num_sold")
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 10.0)).build()
    val tvs = new TrainValidationSplit()
      .setEstimator(lr)
      .setEvaluator(new SmapeEvaluator().setLabelCol("num_sold").setPredictionCol("prediction"))
      .setEstimatorParamMaps(grid)
      .setTrainRatio(0.8).setSeed(42L)
    val model = tvs.fit(train)
    assert(model.validationMetrics.length == 2)
    assert(model.validationMetrics.forall(m => m > 0 && m < 200))
    // lower SMAPE wins (isLargerBetter=false)
    val best = model.validationMetrics.min
    val chosen = model.bestModel.asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    assert(model.validationMetrics.indexOf(best) ==
      grid.indexWhere(_.get(lr.regParam).contains(chosen.getRegParam)))
  }

  test("univariate feature selection keeps k features (E17)") {
    val out = FeatureSelection.selectTopK(train, "features", "num_sold", 5)
    val v = out.select("selected_features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.size == 5)
  }

  test("q67's explicit F-regression agrees with an MLlib-computed r (E17)") {
    // Same feature frame as the q67 registry entry, on the documents
    // fixture; the explicit F = r²(n−2)/(1−r²) ranking must agree with
    // F computed from MLlib's own (RDD-based, full-precision) Pearson
    // correlation matrix. (The UnivariateFeatureSelector itself is
    // useless at these correlation levels — its p-values underflow to
    // 0.0 and numTopFeatures degenerates to index order, which is
    // exactly why the registry query ranks by the explicit statistic.)
    val d = graft.Tables.documents(spark, sf001)
    def cnt(ch: String) =
      (length(col("text")) - length(regexp_replace(col("text"), ch, ""))).cast("double")
    val names = Seq("f_spaces", "f_e", "f_t", "f_a", "f_id", "f_en")
    val f = d.select(
      col("n_chars").cast("double").as("label"),
      cnt(" ").as("f_spaces"), cnt("e").as("f_e"), cnt("t").as("f_t"),
      cnt("a").as("f_a"), col("doc_id").cast("double").as("f_id"),
      (col("lang") === "en").cast("int").cast("double").as("f_en"))
    val n = f.count().toDouble
    val rdd = f.rdd.map(r =>
      org.apache.spark.mllib.linalg.Vectors.dense((0 to names.size).map(r.getDouble).toArray))
    val m = org.apache.spark.mllib.stat.Statistics.corr(rdd, "pearson")
    def fOf(r: Double) = r * r * (n - 2) / (1 - r * r)
    val mllibF = names.zipWithIndex.map { case (nm, i) => nm -> fOf(m(0, i + 1)) }.toMap
    val ours = names.map { nm =>
      val r = f.select(Metrics.canonRound(corr(col(nm), col("label")), 4)).head().getDouble(0)
      nm -> fOf(r)
    }.toMap
    for (nm <- names if math.abs(ours(nm)) > 1.0) {
      val rel = math.abs(mllibF(nm) - ours(nm)) / mllibF(nm)
      assert(rel < 0.1, s"$nm: mllib F ${mllibF(nm)} vs explicit ${ours(nm)}")
    }
    assert(mllibF.toSeq.sortBy(-_._2).take(3).map(_._1).toSet ==
      ours.toSeq.sortBy(-_._2).take(3).map(_._1).toSet)
    val q67Top = graft.SparkEntry.queries("q67_feature_selector")(spark, sf001)
      .select("feature").collect().map(_.getString(0)).toSet
    assert(q67Top == ours.toSeq.sortBy(-_._2).take(3).map(_._1).toSet)
  }

  test("log-target transform fit + expm1 inverse (E5) trains and predicts sanely") {
    import org.apache.spark.ml.regression.LinearRegression
    val logTrain = train.withColumn("y_log", log1p(col("num_sold")))
    val m = new LinearRegression().setFeaturesCol("features").setLabelCol("y_log")
      .setRegParam(0.01).fit(logTrain)
    val preds = m.transform(valid)
      .withColumn("prediction_inv", expm1(col("prediction")))
    val s = preds.select(Metrics.smape(col("num_sold"), col("prediction_inv")).cast("double"))
      .head().getDouble(0)
    assert(s > 0 && s < 50, s"log-target linear SMAPE $s")
  }

  test("rolling-origin folds are time-ordered and cover the tail") {
    val folds = Stacking.timeFolds(train, "date", 3)
    assert(folds.size == 2)
    assert(folds.sliding(2).forall { case Seq((_, b1), (a2, _)) => a2 > b1; case _ => true })
    assert(folds.last._2 == "2018-12-31")
  }
}
