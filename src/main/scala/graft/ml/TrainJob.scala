package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.feature.{Imputer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, LinearRegression}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, ScalableRank}

/** Runnable training jobs — the reference's §3.2 export → train →
  * evaluate → gate flow as one Spark entry point, for BOTH models:
  * Model A (grid-load forecasting, `train.py:123-247`
  * `train_load_model`/`run_load_training`, gate `evaluate.py:126-146`)
  * and Model B (energy-price forecasting, `train.py:252-332`
  * `run_training`); exports follow
  * `src/processing/export_pipeline.py:563-660` / `:199-360`.
  *
  * Two phases, same file contract as the reference so each phase can
  * also run standalone against the other engine's artifacts:
  *
  *  1. export — feature view → target dropna → leakage validation →
  *     chronological 70/15/15 split
  *     ([[ScalableRank.chronoSplitThreeWay]]; bucket-offset global
  *     numbering, NO global sort) → `X_{train,val,test}.parquet` +
  *     `y_{train,val,test}.parquet`. One deviation from the pandas
  *     exports, made for scale: X and y files both carry the `time`
  *     key instead of relying on implicit row order — parquet row
  *     order is not a join key on a cluster.
  *  2. training — reads the exports back, trains the reference's
  *     three models (naive mean / linear / boosted trees), persists
  *     each under `<modelsDir>/<name>_<stamp>`, evaluates on the test
  *     split (masked MAPE, `evaluate.py:51`), writes the metrics JSON
  *     artifact ([[MetricsJson]]) and — for Model A — emits the
  *     MAPE>8% quality warning (`evaluate.py:17,126-146`).
  *
  * Model mapping (public Spark ML, `org.apache.spark.ml.regression`):
  *  - DummyRegressor(mean) → the train-target mean, persisted as a
  *    one-line JSON artifact (a constant predictor has no Spark model
  *    class; predictions are `lit(mean)`).
  *  - LinearRegression → `ml.regression.LinearRegression` over
  *    median-imputed features (reference fills NaN with the median,
  *    then 0 — `train.py:42-47`; `ml.feature.Imputer` is the median
  *    step, the 0-fallback covers all-null columns).
  *  - XGBRegressor → `GBTRegressor` with maxIter / stepSize /
  *    maxDepth / subsamplingRate / featureSubsetStrategy / seed
  *    mapped 1:1 per model (load: 300/0.05/7/0.8/0.8/42 with
  *    min_child_weight=3; energy: 200/0.05/5/0.8/0.8/42 with
  *    min_child_weight=5) and `validationIndicatorCol` early stopping
  *    when the val split exists. One deviation: XGBoost routes NaN
  *    natively per split; Spark's GBT does not accept NaN, so the GBT
  *    consumes the same median-imputed features as the linear model.
  */
object TrainJob {

  /** `export_pipeline.py:374`. */
  val LoadTargetCol = "net_load_kwh"

  /** `export_pipeline.py:376-397` LOAD_FEATURE_COLS, restricted to the
    * columns the events-synthesized feature view carries (the two
    * Python-computed holiday flags are produced by the §2.3
    * holiday-ranges join in deployments that have a holiday table).
    */
  val LoadFeatureCols: Seq[String] = Seq(
    "load_lag_1h", "load_lag_1d", "load_lag_7d", "load_rolling_avg_24h",
    "hour", "weekday", "month", "quarter", "is_weekend",
    "temp_c", "wind_speed_ms", "ghi_wm2", "cloud_cover_pct",
    "precipitation_mm", "pv_feed_in")

  /** `export_pipeline.py:30`. */
  val EnergyTargetCol = "price_eur_mwh"

  /** `export_pipeline.py:32-74` FEATURE_COLS — all 33 carried by the
    * trainingFeatures view (graft.features.FeatureViews).
    */
  val EnergyFeatureCols: Seq[String] = Seq(
    "lag_1h", "lag_24h", "lag_168h", "rolling_avg_24h", "rolling_avg_7d",
    "hour_of_day", "day_of_week", "month", "is_weekend", "is_peak_hour",
    "temperature_2m", "wind_speed_10m", "shortwave_radiation",
    "cloud_cover", "precipitation_mm", "temp_rolling_avg_24h",
    "wind_speed_de_nord", "solar_de_nord", "solar_de_sued",
    "wind_speed_de_sued",
    "hydro_ror_ch_lag_24h", "hydro_ror_ch_lag_168h",
    "solar_gen_ch_lag_24h", "solar_gen_ch_lag_168h",
    "wind_gen_de_lag_24h", "wind_gen_de_lag_168h",
    "actual_load_ch_lag_24h", "actual_load_ch_lag_168h",
    "net_position_ch_lag_24h", "net_position_ch_lag_168h",
    "load_forecast_ch")

  /** `export_pipeline.py:96-126` `validate_no_leakage`: the target and
    * the operational `api_call_log` columns must never be features.
    */
  def validateNoLeakage(featureCols: Seq[String], targetCol: String): Unit = {
    require(!featureCols.contains(targetCol),
      s"Data leakage detected: target column '$targetCol' is present " +
        "in feature_cols. Remove it before training.")
    val apiCallLogCols = Set("id", "source", "called_at", "status_code",
      "was_rate_limited", "response_ms", "date_fetched")
    val leaked = apiCallLogCols.intersect(featureCols.toSet)
    require(leaked.isEmpty,
      s"Isolation violation: api_call_log column(s) $leaked found in " +
        "feature_cols. api_call_log is operational metadata and must " +
        "never be used as an ML feature.")
  }

  /** Everything that differs between Model A and Model B. */
  private case class ModelSpec(
      featureCols: Seq[String],
      targetCol: String,
      naiveName: String,
      linearName: String,
      gbtName: String,
      metricsName: String,
      gbtMaxIter: Int,
      gbtMaxDepth: Int,
      gbtMinInstances: Int,
      qualityGate: Boolean)

  private val LoadSpec = ModelSpec(LoadFeatureCols, LoadTargetCol,
    "naive_load", "linear_load", "model_load", "metrics_load",
    gbtMaxIter = 300, gbtMaxDepth = 7, gbtMinInstances = 3,
    qualityGate = true)

  private val EnergySpec = ModelSpec(EnergyFeatureCols, EnergyTargetCol,
    "naive", "linear", "xgb", "metrics",
    gbtMaxIter = 200, gbtMaxDepth = 5, gbtMinInstances = 5,
    qualityGate = false)

  // ---------------------------------------------------------- phase 1

  private def runExport(spec: ModelSpec, features: DataFrame,
      dataDir: String, valRatio: Double, testRatio: Double): String = {
    validateNoLeakage(spec.featureCols, spec.targetCol)
    val clean = features.filter(col(spec.targetCol).isNotNull)
    val split = ScalableRank.chronoSplitThreeWay(clean,
      date_trunc("month", col("time")), Seq(col("time")),
      valRatio, testRatio)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (part <- Seq("train", "val", "test")) {
        val p = split.filter(col("split") === part)
        p.select(col("time") +:
            spec.featureCols.map(c => col(c).cast("double").as(c)): _*)
          .write.mode("overwrite").parquet(s"$dataDir/X_$part.parquet")
        p.select(col("time"), col(spec.targetCol).cast("double"))
          .write.mode("overwrite").parquet(s"$dataDir/y_$part.parquet")
      }
    } finally split.unpersist()
    dataDir
  }

  /** Model A export (`run_load_export`). Returns the data directory. */
  def runLoadExport(features: DataFrame, dataDir: String,
      valRatio: Double = 0.15, testRatio: Double = 0.15): String =
    runExport(LoadSpec, features, dataDir, valRatio, testRatio)

  /** Model B export (`run_export`). Returns the data directory. */
  def runEnergyExport(features: DataFrame, dataDir: String,
      valRatio: Double = 0.15, testRatio: Double = 0.15): String =
    runExport(EnergySpec, features, dataDir, valRatio, testRatio)

  // ---------------------------------------------------------- phase 2

  case class TrainResult(
      metrics: Seq[(String, MetricsJson.RegMetrics)],
      modelPaths: Map[String, String],
      metricsPath: Option[String],
      qualityWarning: Option[String])

  private def readXy(spark: SparkSession, dataDir: String,
      part: String): Option[DataFrame] = {
    val x = Paths.get(s"$dataDir/X_$part.parquet")
    val y = Paths.get(s"$dataDir/y_$part.parquet")
    if (!Files.exists(x) || !Files.exists(y)) None
    else Some(spark.read.parquet(x.toString)
      .join(spark.read.parquet(y.toString), Seq("time")))
  }

  private def runTraining(spec: ModelSpec, spark: SparkSession,
      dataDir: String, modelsDir: String, stamp: String,
      maxIterOverride: Option[Int]): TrainResult = {
    val train = readXy(spark, dataDir, "train").getOrElse(
      throw new java.io.FileNotFoundException(
        s"Training parquet files not found in '$dataDir'. " +
          "Run the export phase first."))
    val valDf = readXy(spark, dataDir, "val")
    val test = readXy(spark, dataDir, "test")
    Files.createDirectories(Paths.get(modelsDir))

    // Median imputation fitted on TRAIN ONLY (no test leakage), then
    // the reference's fillna(0) fallback. Columns with no non-null
    // train value at all (possible at tiny scale for the long
    // generation lags) can't carry a median — the reference's second
    // fillna(0) is what actually fills them, so they bypass the
    // Imputer and go straight to the 0-fill.
    val nonNull = train.select(spec.featureCols.map(c =>
      count(col(c)).as(c)): _*).head()
    val (medianCols, allNullCols) = spec.featureCols.partition(c =>
      nonNull.getAs[Long](c) > 0)
    val impCols = spec.featureCols.map(_ + "_imp").toArray
    val imputer = new Imputer().setStrategy("median")
      .setInputCols(medianCols.toArray)
      .setOutputCols(medianCols.map(_ + "_imp").toArray)
      .fit(train)
    val assembler = new VectorAssembler()
      .setInputCols(impCols).setOutputCol("features")
    def prep(df: DataFrame): DataFrame = {
      val withCopies = allNullCols.foldLeft(imputer.transform(df))(
        (d, c) => d.withColumn(c + "_imp", col(c).cast("double")))
      assembler.transform(withCopies.na.fill(0.0, impCols.toIndexedSeq))
    }
    val trainP = prep(train)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 1. Naive mean predictor (DummyRegressor(strategy="mean")).
    val trainMean = train.agg(avg(col(spec.targetCol))).head().getDouble(0)
    val naivePath = s"$modelsDir/${spec.naiveName}_$stamp.json"
    Files.writeString(Paths.get(naivePath),
      s"""{"model": "${spec.naiveName}", "strategy": "mean",""" +
        s""" "mean": $trainMean}""")

    // 2. Linear baseline.
    val linear = new LinearRegression().setLabelCol(spec.targetCol)
      .setFeaturesCol("features").fit(trainP)
    val linearPath = s"$modelsDir/${spec.linearName}_$stamp"
    linear.write.overwrite().save(linearPath)

    // 3. Boosted trees (the XGBRegressor role), early-stopped on the
    // val split when present (train.py:123-167 / :50-95).
    val gbtBase = new GBTRegressor().setLabelCol(spec.targetCol)
      .setFeaturesCol("features")
      .setMaxIter(maxIterOverride.getOrElse(spec.gbtMaxIter))
      .setStepSize(0.05).setMaxDepth(spec.gbtMaxDepth)
      .setSubsamplingRate(0.8).setFeatureSubsetStrategy("0.8")
      .setMinInstancesPerNode(spec.gbtMinInstances).setSeed(42)
    val gbt = valDf match {
      case Some(v) =>
        val both = trainP.withColumn("__is_val", lit(false))
          .unionByName(prep(v).withColumn("__is_val", lit(true)))
        gbtBase.setValidationIndicatorCol("__is_val").fit(both)
      case None => gbtBase.fit(trainP)
    }
    val gbtPath = s"$modelsDir/${spec.gbtName}_$stamp"
    gbt.write.overwrite().save(gbtPath)
    trainP.unpersist()

    val paths = Map(spec.naiveName -> naivePath,
      spec.linearName -> linearPath, spec.gbtName -> gbtPath)

    // Evaluate on test when available (train.py:236-246): masked MAPE
    // (|y| ≥ 10 only, evaluate.py:51) via Aggregates.regressionMetrics.
    test match {
      case Some(t) =>
        val tp = prep(t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def metricsOf(pred: DataFrame): MetricsJson.RegMetrics =
          MetricsJson.fromRow(Aggregates.regressionMetrics(
            pred, col(spec.targetCol), col("prediction")))
        val metrics = Seq(
          spec.naiveName ->
            metricsOf(tp.withColumn("prediction", lit(trainMean))),
          spec.linearName -> metricsOf(linear.transform(tp)),
          spec.gbtName -> metricsOf(gbt.transform(tp)))
        tp.unpersist()
        val mPath = MetricsJson.save(metrics, spec.metricsName,
          modelsDir, stamp)
        val warning =
          if (spec.qualityGate) MetricsJson.checkLoadQuality(metrics.toMap)
          else None
        TrainResult(metrics, paths, Some(mPath.toString), warning)
      case None => TrainResult(Nil, paths, None, None)
    }
  }

  /** Model A training (`run_load_training`): naive_load / linear_load /
    * model_load + metrics artifact + the MAPE>8% gate.
    */
  def runLoadTraining(spark: SparkSession, dataDir: String,
      modelsDir: String, stamp: String, maxIter: Int = 300): TrainResult =
    runTraining(LoadSpec, spark, dataDir, modelsDir, stamp, Some(maxIter))

  /** Model B training (`run_training`): naive / linear / xgb +
    * metrics artifact (no gate — the reference gates Model A only).
    */
  def runEnergyTraining(spark: SparkSession, dataDir: String,
      modelsDir: String, stamp: String, maxIter: Int = 200): TrainResult =
    runTraining(EnergySpec, spark, dataDir, modelsDir, stamp, Some(maxIter))

  // --------------------------------------------------------------- CLI

  private def report(tag: String, res: TrainResult): Unit = {
    res.metrics.foreach { case (name, m) =>
      println(f"[$tag] $name%-12s mae=${m.mae}%.3f rmse=${m.rmse}%.3f " +
        f"mape=${m.mape}%.2f%%")
    }
    res.metricsPath.foreach(p => println(s"[$tag] Saved metrics: $p"))
    res.modelPaths.toSeq.sortBy(_._1).foreach { case (n, p) =>
      println(s"[$tag] Saved $n: $p")
    }
    res.qualityWarning.foreach(w => println(s"[$tag] WARNING: $w"))
  }

  /** CLI: `TrainJob [sfDir] [outDir] [maxIter]`. Builds both feature
    * views from the events table (the same constructions the
    * correctness-gated `feature_net_load_view` /
    * `feature_training_view` queries run), exports, trains, evaluates,
    * prints the metrics artifact paths and any quality warning.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1)
      else Files.createTempDirectory("graft_trainjob").toString
    val maxIter = if (args.length > 2) Some(args(2).toInt) else None
    val spark = graft.Sessions.local(
      Runtime.getRuntime.availableProcessors().toString)
    try {
      val stamp = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      val load = graft.SparkEntry
        .queries("feature_net_load_view")(spark, sfDir)
      runExport(LoadSpec, load, s"$outDir/data/load", 0.15, 0.15)
      report("load", runTraining(LoadSpec, spark, s"$outDir/data/load",
        s"$outDir/models", stamp, maxIter))
      val energy = graft.SparkEntry
        .queries("feature_training_view")(spark, sfDir)
      runExport(EnergySpec, energy, s"$outDir/data/energy", 0.15, 0.15)
      report("energy", runTraining(EnergySpec, spark,
        s"$outDir/data/energy", s"$outDir/models", stamp, maxIter))
    } finally spark.stop()
  }
}
