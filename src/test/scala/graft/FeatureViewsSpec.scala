package graft

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.features.FeatureViews

/** Synthetic-frame tests of the two feature views, mirroring the
  * reference's pipeline tests (`test_feature_pipeline.py:63-75` lag
  * semantics; FIXTURES.md §8).
  */
class FeatureViewsSpec extends SparkSpecBase {
  import spark.implicits._

  /** n hourly rows from 2026-01-01; price = 50 + i % 30 (fixture §8). */
  private def hourly(n: Int): DataFrame =
    spark.range(n).select(
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
        .cast("timestamp_ntz") + make_interval(lit(0), lit(0), lit(0),
          lit(0), col("id").cast("int"), lit(0), lit(0))).as("time"),
      (lit(50.0) + (col("id") % 30).cast("double")).as("price_eur_mwh"))

  private lazy val prices = hourly(400)
    .withColumn("domain", lit("10YCH-SWISSGRIDZ"))
    .withColumn("currency", lit("EUR"))

  private def empty(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private lazy val tf = FeatureViews.trainingFeatures(
    prices,
    empty(Schemas.weatherHourly),
    empty(Schemas.entsoeGeneration),
    empty(Schemas.entsoeActualLoad),
    empty(Schemas.entsoeCrossborderFlows),
    empty(Schemas.entsoeLoadForecast)).cache()

  test("training_features: 33 columns in the reference's order") {
    assert(tf.columns.length == 33)
    assert(tf.columns.take(12).toSeq == Seq("time", "price_eur_mwh",
      "lag_1h", "lag_24h", "lag_168h", "rolling_avg_24h", "rolling_avg_7d",
      "hour_of_day", "day_of_week", "month", "is_weekend", "is_peak_hour"))
    assert(tf.columns.last == "load_forecast_ch")
  }

  test("lag semantics: row 24's lag_24h equals row 0's price; head nulls") {
    val rows = tf.orderBy("time").limit(200).collect()
    assert(rows(24).getAs[Double]("lag_24h") ==
      rows(0).getAs[Double]("price_eur_mwh"))
    (0 until 24).foreach(i => assert(rows(i).isNullAt(rows(i).fieldIndex("lag_24h"))))
    assert(rows(168).getAs[Double]("lag_168h") ==
      rows(0).getAs[Double]("price_eur_mwh"))
    assert(rows(1).getAs[Double]("lag_1h") ==
      rows(0).getAs[Double]("price_eur_mwh"))
  }

  test("rolling window shrinks at the head (PG ROWS BETWEEN semantics)") {
    val rows = tf.orderBy("time").limit(30).collect()
    // row 0: frame = itself
    assert(rows(0).getAs[Double]("rolling_avg_24h") ==
      rows(0).getAs[Double]("price_eur_mwh"))
    // row 2: mean of rows 0..2
    val want = (0 to 2).map(i => rows(i).getAs[Double]("price_eur_mwh")).sum / 3
    assert(math.abs(rows(2).getAs[Double]("rolling_avg_24h") - want) < 1e-9)
  }

  test("calendar features use the PG dow convention") {
    // 2026-01-01 is a Thursday -> PG dow 4
    val r0 = tf.orderBy("time").limit(1).collect()(0)
    assert(r0.getAs[Int]("day_of_week") == 4)
    assert(r0.getAs[Int]("hour_of_day") == 0)
    assert(r0.getAs[Int]("is_peak_hour") == 0)
  }

  test("net_load_features: arithmetic, dup aliases, as-of weather join") {
    val load = hourly(200).withColumnRenamed("price_eur_mwh", "load_kwh")
    val pv = hourly(100).select($"time",
      ($"price_eur_mwh" * 0.1).as("pv_kwh"))
    val weather = hourly(200).select($"time", lit(47.5001).as("latitude"),
      lit(8.7502).as("longitude"), lit(10.0).as("temperature_2m"),
      lit(3.0).as("wind_speed_10m"), lit(0.0).as("shortwave_radiation"),
      lit(50.0).as("cloud_cover"), lit(0.0).as("precipitation_mm"))
    val nl = FeatureViews.netLoadFeatures(load, pv, weather).cache()
    assert(nl.columns.length == 24) // incl. all duplicate aliases
    val rows = nl.orderBy("time").collect()
    val r0 = rows(0)
    assert(r0.getAs[Double]("net_load_kwh") == 50.0 - 5.0)
    assert(r0.getAs[Double]("temp_c") == 10.0)
    assert(r0.getAs[Double]("pv_feed_in") == r0.getAs[Double]("pv_feed_in_kwh"))
    // beyond pv range: COALESCE(pv, 0); lag_1h = previous net load
    val r150 = rows(150)
    assert(r150.getAs[Double]("pv_feed_in_kwh") == 0.0)
    assert(r150.getAs[Double]("load_lag_1h") ==
      rows(149).getAs[Double]("net_load_kwh"))
  }

  test("scoped feature views release their caches after the action") {
    spark.catalog.clearCache()
    val load = hourly(200).withColumnRenamed("price_eur_mwh", "load_kwh")
    val pv = hourly(100).select($"time",
      ($"price_eur_mwh" * 0.1).as("pv_kwh"))
    val weather = hourly(200).select($"time", lit(47.5001).as("latitude"),
      lit(8.7502).as("longitude"), lit(10.0).as("temperature_2m"),
      lit(3.0).as("wind_speed_10m"), lit(0.0).as("shortwave_radiation"),
      lit(50.0).as("cloud_cover"), lit(0.0).as("precipitation_mm"))
    val n = Caches.scoped(FeatureViews.netLoadFeatures(load, pv, weather))(
      _.count())
    assert(n == 200)
    val m = Caches.scoped(FeatureViews.trainingFeatures(
      prices,
      empty(Schemas.weatherHourly),
      empty(Schemas.entsoeGeneration),
      empty(Schemas.entsoeActualLoad),
      empty(Schemas.entsoeCrossborderFlows),
      empty(Schemas.entsoeLoadForecast)))(_.count())
    assert(m == 400)
    assert(spark.sharedState.cacheManager.isEmpty,
      "bracketed feature views must leave no cached relations behind")
  }
}
