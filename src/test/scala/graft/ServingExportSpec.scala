package graft

import org.apache.spark.sql.functions._

import graft.exports.ExportJob
import graft.serving.Serving

/** Serving reads (§3.3) and the export pipeline (§3.2 steps 3-4)
  * mirroring the reference's pipeline-invariant tests
  * (`test_feature_pipeline.py:109-191`). */
class ServingExportSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val ev = Tables.events(spark, sf())

  test("latestFeatureRow returns the newest row") {
    val got = Serving.latestFeatureRow(ev, col("ts"))
      .select(col("ts")).first().getAs[java.time.LocalDateTime]("ts")
    val want = ev.agg(max(col("ts"))).first()
      .getAs[java.time.LocalDateTime](0)
    assert(got == want)
  }

  test("numericColumns discovers doubles/longs minus the skip set") {
    val cols = Serving.numericColumns(ev, Set("event_id", "user_id"))
    assert(cols == Seq("value"))
  }

  test("rateLimitStats aggregates the call log shape") {
    val log = Seq(
      ("a", "2024-01-01 00:00:00", true),
      ("a", "2024-01-02 00:00:00", false),
      ("b", "2024-01-03 00:00:00", false))
      .toDF("source", "called_at_s", "was_rate_limited")
      .select(col("source"),
        col("called_at_s").cast("timestamp_ntz").as("called_at"),
        col("was_rate_limited"))
    val got = Serving.rateLimitStats(log, col("called_at"),
        lit("2023-12-31 00:00:00").cast("timestamp_ntz"))
      .orderBy("source").collect()
    assert(got(0).getAs[Long]("n_calls") == 2)
    assert(got(0).getAs[Long]("n_limited") == 1)
    assert(got(1).getAs[Long]("n_limited") == 0)
    assert(got(1).isNullAt(got(1).fieldIndex("last_limited_at")))
  }

  test("export guard raises on leakage and staleness") {
    intercept[IllegalArgumentException] {
      ExportJob.guard(ev, Seq("value", "net_load_kwh"),
        Set("net_load_kwh"), col("ts"),
        lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
    }
    intercept[IllegalArgumentException] {
      ExportJob.guard(ev, Seq("value"), Set("net_load_kwh"), col("ts"),
        lit("2099-01-01 00:00:00").cast("timestamp_ntz"))
    }
    // clean pass
    ExportJob.guard(ev, Seq("value"), Set("net_load_kwh"), col("ts"),
      lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
  }

  test("splitXy: X/y column split, no overlap, totality, target dropna") {
    val withNulls = ev.withColumn("y",
      when(col("event_id") % 10 === 0, lit(null).cast("double"))
        .otherwise(col("value")))
    val splits = ExportJob.splitXy(withNulls,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.25, Seq("event_id", "value"), "y")
    val n = withNulls.na.drop(Seq("y")).count()
    val nTrain = splits("train")._1.count()
    val nTest = splits("test")._1.count()
    assert(nTrain == math.floor(n * 0.75).toLong)
    assert(nTrain + nTest == n)
    assert(splits("train")._1.columns.toSeq == Seq("event_id", "value"))
    assert(splits("train")._2.columns.toSeq == Seq("y"))
  }

  test("splitXy raises on an empty split like the reference") {
    // 2 rows, testRatio 0.99 → floor(n*(1-r)) = 0 → train split empty
    val tiny = ev.limit(2).withColumn("y", col("value"))
    intercept[IllegalArgumentException] {
      ExportJob.splitXy(tiny, date_trunc("week", col("ts")),
        Seq(col("ts"), col("event_id")), 0.99, Seq("event_id"), "y")
    }
  }

  test("writeSplits round-trips versioned parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_export").toString
    val splits = ExportJob.splitXy(ev.withColumn("y", col("value")),
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.3, Seq("event_id"), "y")
    ExportJob.writeSplits(splits, tmp, version = Some("20240101"))
    val back = spark.read.parquet(s"$tmp/X_train_20240101.parquet")
    assert(back.count() == splits("train")._1.count())
  }

  test("float32 export narrows X doubles, keeps y and the unified label") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}
    val tmp = java.nio.file.Files.createTempDirectory("graft_f32").toString
    val feats = ev.withColumn("y", col("value") * 2)
    // X/y form: every double feature narrows, ids stay, y stays double
    val splits = ExportJob.splitXy(feats, date_trunc("week", col("ts")),
      Seq(col("ts"), col("event_id")), 0.3, Seq("event_id", "value"), "y")
    ExportJob.writeSplits(splits, tmp, float32X = true)
    val x = spark.read.parquet(s"$tmp/X_train.parquet").schema
    assert(x("value").dataType == FloatType)
    assert(x("event_id").dataType == LongType)
    val y = spark.read.parquet(s"$tmp/y_train.parquet").schema
    assert(y("y").dataType == DoubleType)
    // unified form: only the NAMED feature columns narrow — the label
    // shares the file and must keep full precision
    val uni = ExportJob.splitUnified(feats, date_trunc("week", col("ts")),
      Seq(col("ts"), col("event_id")), 0.3, Seq("event_id", "value"), "y")
    ExportJob.writeSplitsUnified(uni, tmp, float32Cols = Seq("value"))
    val xy = spark.read.parquet(s"$tmp/xy_train.parquet").schema
    assert(xy("value").dataType == FloatType)
    assert(xy("y").dataType == DoubleType)
  }

  test("unified calendar split: boundaries, totality, dropna, guard") {
    val withNulls = ev
      .withColumn("y", when(col("event_id") % 10 === 0,
        lit(null).cast("double")).otherwise(col("value")))
      .withColumn("d", to_date(col("ts")))
    val splits = ExportJob.splitUnifiedByDates(
      withNulls, col("d"), Seq(col("ts"), col("event_id")),
      valDays = 5, testDays = 5, Seq("event_id", "value", "d"), "y")
    assert(splits.keySet == Set("train", "val", "test"))
    // target-dropna totality, like the ratio sibling
    val n = withNulls.na.drop(Seq("y")).count()
    assert(splits.values.map(_.count()).sum == n)
    splits.values.foreach(df =>
      assert(df.columns.toSeq == Seq("event_id", "value", "d", "y")))
    // calendar boundaries anchored to max(d): test = last 5 days,
    // val = the 5 days before that, train = everything earlier
    val maxD = withNulls.agg(max(col("d"))).first().getDate(0).toLocalDate
    def spanOf(name: String) = {
      val r = splits(name).agg(min(col("d")), max(col("d"))).first()
      (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
    }
    assert(spanOf("test")._2 == maxD)
    assert(spanOf("test")._1.isAfter(maxD.minusDays(6)))
    assert(spanOf("val")._2.isBefore(spanOf("test")._1))
    assert(spanOf("val")._1.isAfter(maxD.minusDays(11)))
    assert(spanOf("train")._2.isBefore(spanOf("val")._1))
    // requested-but-empty split fails fast like the ratio sibling —
    // in BOTH calendar variants (the X/y form regressed once)
    intercept[IllegalArgumentException] {
      ExportJob.splitUnifiedByDates(withNulls, col("d"),
        Seq(col("ts"), col("event_id")), valDays = 5, testDays = 5000,
        Seq("event_id"), "y")
    }
    intercept[IllegalArgumentException] {
      ExportJob.splitXyByDates(withNulls, col("d"),
        Seq(col("ts"), col("event_id")), valDays = 5, testDays = 5000,
        Seq("event_id"), "y")
    }
  }

  test("unified export: X/y pairing survives a repartition-shuffled input") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_uni").toString
    // known rowwise relation y = 2·value + 1, input deliberately
    // shuffled through an arbitrary repartition before the export
    val shuffled = ev
      .withColumn("y", col("value") * 2 + 1)
      .repartition(13, col("user_id"))
    val splits = ExportJob.splitUnified(shuffled,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.25, Seq("event_id", "value"), "y")
    ExportJob.writeSplitsUnified(splits, tmp, version = Some("20240101"))
    val (x, y) = ExportJob.readXy(spark, tmp, "train",
      Seq("event_id", "value"), "y", version = Some("20240101"))
    assert(x.count() == splits("train").count() && x.count() == y.count())
    // rowwise zip of the two projections: same scan, same layout —
    // every (X row, y row) pair must satisfy the planted relation
    val mismatches = x.rdd.zip(y.rdd).filter { case (xr, yr) =>
      math.abs(yr.getDouble(0) - (xr.getAs[Double]("value") * 2 + 1)) > 1e-12
    }.count()
    assert(mismatches == 0L)
  }

  test("scoped split brackets release the labeled-plan cache") {
    spark.catalog.clearCache()
    val labeled = ev.withColumn("y", col("value"))
      .withColumn("d", to_date(col("ts")))
    val n1 = Caches.scoped(ExportJob.splitUnified(labeled,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.25, Seq("event_id", "value"), "y"))(_.values.map(_.count()).sum)
    val n2 = Caches.scoped(ExportJob.splitUnifiedByDates(labeled, col("d"),
      Seq(col("ts"), col("event_id")), valDays = 5, testDays = 5,
      Seq("event_id", "value", "d"), "y"))(_.values.map(_.count()).sum)
    assert(n1 > 0 && n1 == n2) // both splits partition the same rows
    val n3 = Caches.scoped(ExportJob.splitXy(labeled,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.25, Seq("event_id", "value"), "y"))(_.values.map(_._1.count()).sum)
    val n4 = Caches.scoped(ExportJob.splitXyByDates(labeled, col("d"),
      Seq(col("ts"), col("event_id")), valDays = 5, testDays = 5,
      Seq("event_id", "value"), "y"))(_.values.map(_._2.count()).sum)
    assert(n3 == n1 && n4 == n1)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bracketed split variants must leave no cached relations behind")
  }
}
