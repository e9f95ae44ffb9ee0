package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ml.TrainJob
import graft.ops.ScalableRank

/** End-to-end training job (reference `export_pipeline.py:563-660` +
  * `train.py:170-247`): export contract, split arithmetic, leakage
  * guards, model persistence, metrics artifact, quality gate.
  */
class TrainJobSpec extends SparkSpecBase {

  test("chronoSplitThreeWay: boundary arithmetic matches int(n*ratio)") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, i % 7)).toDF("id", "b")
    val split = ScalableRank.chronoSplitThreeWay(df, lit(1), Seq(col("id")),
      valRatio = 0.15, testRatio = 0.15)
    val counts = split.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // n=100: train = floor(100*0.70) = 70, val up to floor(100*0.85) = 85
    assert(counts("train") == 70L)
    assert(counts("val") == 15L)
    assert(counts("test") == 15L)
    // chronological: every train id < every val id < every test id
    val maxTrain = split.filter(col("split") === "train")
      .agg(max(col("id"))).head().getInt(0)
    val minVal = split.filter(col("split") === "val")
      .agg(min(col("id"))).head().getInt(0)
    val maxVal = split.filter(col("split") === "val")
      .agg(max(col("id"))).head().getInt(0)
    val minTest = split.filter(col("split") === "test")
      .agg(min(col("id"))).head().getInt(0)
    assert(maxTrain < minVal && maxVal < minTest)
  }

  test("validateNoLeakage rejects the target and api_call_log columns") {
    TrainJob.validateNoLeakage(TrainJob.LoadFeatureCols, TrainJob.LoadTargetCol)
    intercept[IllegalArgumentException] {
      TrainJob.validateNoLeakage(Seq("load_lag_1h", "net_load_kwh"),
        "net_load_kwh")
    }
    intercept[IllegalArgumentException] {
      TrainJob.validateNoLeakage(Seq("load_lag_1h", "response_ms"),
        "net_load_kwh")
    }
  }

  test("export → train → evaluate → artifacts round-trip on sf0.001") {
    val out = Files.createTempDirectory("graft_trainjob_spec").toString
    val features =
      SparkEntry.queries("feature_net_load_view")(spark, sf())
    // the view persists its series for the harness clearCache; drop them
    // so the checks below see only what the two phases leave behind
    spark.catalog.clearCache()
    val dataDir = TrainJob.runLoadExport(features, s"$out/data")
    assert(spark.sharedState.cacheManager.isEmpty,
      "runLoadExport left its split cache behind")

    // export contract: six files, X carries time + features, y carries
    // time + target, no target column in any X file
    for (part <- Seq("train", "val", "test")) {
      val x = spark.read.parquet(s"$dataDir/X_$part.parquet")
      val y = spark.read.parquet(s"$dataDir/y_$part.parquet")
      assert(x.columns.toSet ==
        (TrainJob.LoadFeatureCols.toSet + "time"))
      assert(!x.columns.contains(TrainJob.LoadTargetCol))
      assert(y.columns.toSet == Set("time", TrainJob.LoadTargetCol))
      assert(x.count() == y.count())
    }
    // target dropna happened before the split
    val total = Seq("train", "val", "test")
      .map(p => spark.read.parquet(s"$dataDir/y_$p.parquet").count()).sum
    val expected = features.filter(col(TrainJob.LoadTargetCol).isNotNull)
      .count()
    assert(total == expected)

    val res = TrainJob.runLoadTraining(spark, dataDir, s"$out/models",
      stamp = "19990101", maxIter = 3)
    assert(spark.sharedState.cacheManager.isEmpty,
      "runLoadTraining left a train or test cache behind")
    // three models persisted, three metric rows, artifact on disk
    assert(res.modelPaths.keySet ==
      Set("naive_load", "linear_load", "model_load"))
    res.modelPaths.values.foreach(p =>
      assert(Files.exists(java.nio.file.Paths.get(p)), s"missing $p"))
    assert(res.metrics.map(_._1) ==
      Seq("naive_load", "linear_load", "model_load"))
    res.metrics.foreach { case (name, m) =>
      assert(!m.mae.isNaN && m.mae >= 0, s"$name mae")
      assert(!m.rmse.isNaN && m.rmse >= m.mae * 0.999, s"$name rmse ≥ mae")
    }
    assert(res.metricsPath.exists(p =>
      Files.readString(java.nio.file.Paths.get(p)).contains("model_load")))
    // the learned models must beat the constant predictor on MAE
    val naiveMae = res.metrics.head._2.mae
    assert(res.metrics(1)._2.mae <= naiveMae,
      "linear should not lose to the naive mean on its own test split")

    // persisted GBT reloads and predicts
    val reloaded = org.apache.spark.ml.regression.GBTRegressionModel
      .load(res.modelPaths("model_load"))
    assert(reloaded.numFeatures == TrainJob.LoadFeatureCols.length)
  }
}
