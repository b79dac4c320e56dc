package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{MinMaxScaler, OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateFeatures

/** Feature engineering for the sales workload, mirroring the reference's
  * ~150-column engineered surface (kaggle/kaggle.py:193-331) as ONE wide
  * projection (SURVEY.md §1.3: withColumns/select, never 150 chained
  * withColumn analyzer passes), plus the encoder pipeline (E1-E4).
  */
object SalesFeatures {

  /** Calendar + Fourier + GDP features. GDP arrives by broadcast join on
    * (year, country) — the Spark replacement for the reference's per-row
    * get_gdp UDF (J1, kaggle/kaggle.py:197-202).
    */
  def build(spark: SparkSession, sales: DataFrame): DataFrame = {
    val gdp = SalesData.gdpDim(spark).withColumnRenamed("country", "gdp_country")
    val withGdp = sales
      .join(broadcast(gdp),
        year(col("date")) === col("year") && col("country") === col("gdp_country"), "left")
      .drop("year", "gdp_country")
    val wd = DateFeatures.weekdayMon0(col("date"))
    val weekly = {
      val (s1, c1) = DateFeatures.weeklyFourierPair(col("date"), 1)
      Seq("sin_1_w" -> s1, "cos_1_w" -> c1)
    }
    val fourier = DateFeatures.fourierFeatures(col("date"), order = 2) ++ weekly
    val featCols: Seq[Column] =
      Seq(log1p(col("gdp")).as("log_gdp"),
        wd.cast("double").as("wd"),
        (wd === 4).cast("double").as("wd4"),
        (wd >= 5).cast("double").as("wd56"),
        (datediff(to_date(col("date")), lit("2015-01-01")) / 1000.0).as("t"),
        DateFeatures.season(col("date")).as("season")) ++
        fourier.map { case (n, c) => c.as(n) }
    withGdp.select((col("*") +: featCols): _*)
  }

  val numericFeatures: Seq[String] =
    Seq("log_gdp", "wd", "wd4", "wd56", "t",
      "sin_1", "cos_1", "sin_2", "cos_2", "sin_1_w", "cos_1_w")
  val categoricalFeatures: Seq[String] = Seq("country", "store", "product", "season")

  /** E1-E4: StringIndexer → OneHotEncoder → VectorAssembler → MinMaxScaler,
    * the MLlib pipeline equivalent of the reference's ColumnTransformer
    * (kaggle/kaggle.py:784-790).
    */
  def encoderPipeline(outputCol: String = "features"): Pipeline = {
    val idx = new StringIndexer()
      .setInputCols(categoricalFeatures.toArray)
      .setOutputCols(categoricalFeatures.map(_ + "_idx").toArray)
      .setHandleInvalid("keep")
      .setStringOrderType("alphabetAsc") // deterministic across partitionings
    val ohe = new OneHotEncoder()
      .setInputCols(categoricalFeatures.map(_ + "_idx").toArray)
      .setOutputCols(categoricalFeatures.map(_ + "_oh").toArray)
      .setHandleInvalid("keep")
    val asm = new VectorAssembler()
      .setInputCols((numericFeatures ++ categoricalFeatures.map(_ + "_oh")).toArray)
      .setOutputCol("features_raw")
    val scaler = new MinMaxScaler().setInputCol("features_raw").setOutputCol(outputCol)
    new Pipeline().setStages(Array(idx, ohe, asm, scaler))
  }

  /** Full prep: engineered features → fitted encoders → vectorized frame.
    * Returns (prepared frame, fitted pipeline for reuse on test data).
    *
    * The prepared frame is CACHED: every consumer is an iterative trainer
    * (BoostedHybrid fits, rolling-origin folds, meta-learner) that would
    * otherwise re-execute the generate→features→encode lineage once per
    * MLlib fit — the standard cache-before-iterate rule for ML inputs,
    * same at 15k rows or 100 TB (there it's what keeps 8 fits from doing
    * 8 full scans).
    *
    * CACHE CONTRACT: the cache stays until the caller clears it — this
    * function cannot know when the last fit has run. Unpersist the
    * returned frame after the final fit (perfbench/TimeQuery clear the whole
    * cache per query; Verify tolerates the gate-scale accumulation — see
    * DedupQueries.capBuckets for the contract).
    */
  def prepare(spark: SparkSession, sales: DataFrame,
              coalesceTo: Option[Int] = None): (DataFrame, PipelineModel) = {
    val feats = build(spark, sales)
    val model = encoderPipeline().fit(feats)
    val out = model.transform(feats)
    // Right-size partitions to the data before caching: GBT induction runs
    // several jobs per tree level, and each near-empty partition adds a
    // task to every one of them. Callers pick the count from their data
    // scale (the 15k-row queries use 8; a cluster-scale run leaves None).
    (coalesceTo.map(out.coalesce).getOrElse(out).cache(), model)
  }
}
