package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.functions.ScalarFns
import graft.ops.{Aggregates, Relational, ScalableWindow}

/** The reference's two feature views re-expressed as DataFrame jobs,
  * column-for-column (SURVEY.md §3.2):
  *
  *  - [[trainingFeatures]] ≙ `training_features`
  *    (`infra/db/init.sql:236-368`, 33 columns, Model B)
  *  - [[netLoadFeatures]] ≙ `winterthur_net_load_features`
  *    (`infra/db/init.sql:421-455`, 23 columns incl. duplicate aliases,
  *    Model A)
  *
  * All `LAG/AVG ... OVER (ORDER BY time)` windows run through
  * ScalableWindow (bucketed fringe) so the jobs have no single-partition
  * sort; every join is a left equi-join with a broadcastable right side.
  */
object FeatureViews {

  private val CH = "10YCH-SWISSGRIDZ"
  private val DE = "10Y1001A1001A83F"

  private val order = Seq(col("time"))
  private val monthBucket = date_trunc("month", col("time"))

  /** Bucketed lag/rolling over a POST-AGGREGATION series. The input is
    * persisted first: every series here is an hourly aggregate of a big
    * fact table, bounded by calendar-hours × dims regardless of input
    * scale — and ScalableWindow evaluates its input three times (count
    * routing, fringe extraction, final windows). Without the cache each
    * pass would re-run the full upstream aggregation; with it, the fact
    * table is aggregated exactly once per series at any scale. The
    * series are released under the [[graft.Caches]] contracts.
    */
  private def lagRolling(
      df: DataFrame,
      x: Column,
      // (name, n, isRollingAvg)
      defs: Seq[(String, Int, Boolean)]): DataFrame = {
    val series = persist(df)
    ScalableWindow.withTrailingColumns(series, monthBucket, order, 168)(
      defs.map { case (name, n, rolling) =>
        name -> ((w: org.apache.spark.sql.expressions.WindowSpec) =>
          if (rolling) avg(x).over(w.rowsBetween(-(n - 1), 0))
          else lag(x, n).over(w))
      }: _*)
  }

  /** Model B feature view. Inputs follow graft.Schemas table shapes.
    * Persists its intermediate series (see [[lagRolling]]).
    */
  def trainingFeatures(
      dayAheadPrices: DataFrame,
      weatherHourly: DataFrame,
      generation: DataFrame,
      actualLoad: DataFrame,
      crossborderFlows: DataFrame,
      loadForecast: DataFrame): DataFrame = {

    val pf = lagRolling(
      dayAheadPrices.filter(col("domain") === CH)
        .select(col("time"), col("price_eur_mwh")),
      col("price_eur_mwh"),
      Seq(("lag_1h", 1, false), ("lag_24h", 24, false),
        ("lag_168h", 168, false), ("rolling_avg_24h", 24, true),
        ("rolling_avg_7d", 168, true)))
      .withColumn("hour_of_day", ScalarFns.hourOfDay(col("time")))
      .withColumn("day_of_week", ScalarFns.dowPg(col("time")))
      .withColumn("month", ScalarFns.monthOf(col("time")))
      .withColumn("is_weekend", ScalarFns.isWeekend(col("time")))
      .withColumn("is_peak_hour", ScalarFns.isPeakHour(col("time")))

    def genLags(domain: String, psr: String, p: String): DataFrame =
      lagRolling(
        generation.filter(col("domain") === domain && col("psr_type") === psr)
          .select(col("time"), col("quantity_mwh")),
        col("quantity_mwh"),
        Seq((s"${p}_lag_24h", 24, false), (s"${p}_lag_168h", 168, false)))
        .drop("quantity_mwh")

    val loadLags = lagRolling(
      actualLoad.filter(col("domain") === CH)
        .select(col("time"), col("load_mwh")),
      col("load_mwh"),
      Seq(("actual_load_ch_lag_24h", 24, false),
        ("actual_load_ch_lag_168h", 168, false)))
      .drop("load_mwh")

    val netPosRaw = Aggregates.conditionalNetSum(
      crossborderFlows.filter(
        col("in_domain") === CH || col("out_domain") === CH),
      Seq(col("time")),
      col("out_domain") === CH, col("in_domain") === CH, col("flow_mwh"))
      .withColumnRenamed("net", "net_position_ch")
    val netPos = lagRolling(netPosRaw, col("net_position_ch"),
      Seq(("net_position_ch_lag_24h", 24, false),
        ("net_position_ch_lag_168h", 168, false)))
      .drop("net_position_ch")

    val joined = pf
      .join(broadcast(weatherHourly
          .filter(col("latitude") === 47.5001 && col("longitude") === 8.7502)
          .select(col("time"), col("temperature_2m"), col("wind_speed_10m"),
            col("shortwave_radiation"), col("cloud_cover"),
            col("precipitation_mm"))),
        Seq("time"), "left")
      .join(broadcast(weatherHourly
          .filter(col("latitude") === 53.5 && col("longitude") === 10.0)
          .select(col("time"),
            col("wind_speed_10m").as("wind_speed_de_nord"),
            col("shortwave_radiation").as("solar_de_nord"))),
        Seq("time"), "left")
      .join(broadcast(weatherHourly
          .filter(col("latitude") === 48.5 && col("longitude") === 9.0)
          .select(col("time"),
            col("shortwave_radiation").as("solar_de_sued"),
            col("wind_speed_10m").as("wind_speed_de_sued"))),
        Seq("time"), "left")
      .join(genLags(CH, "B12", "hydro_ror_ch"), Seq("time"), "left")
      .join(genLags(CH, "B16", "solar_gen_ch"), Seq("time"), "left")
      .join(genLags(DE, "B19", "wind_gen_de"), Seq("time"), "left")
      .join(loadLags, Seq("time"), "left")
      .join(netPos, Seq("time"), "left")
      .join(loadForecast.filter(col("domain") === CH)
          .select(col("time"), col("load_mwh").as("load_forecast_ch")),
        Seq("time"), "left")

    // temp_rolling_avg_24h is computed AFTER the join in the reference
    // (init.sql:324-326) — over the joined CH temperature column. The
    // joined frame is persisted for the same reason as lagRolling's
    // input: ScalableWindow walks it three times, and re-deriving the
    // 9-way join per pass would triple the whole job.
    val joinedCached = persist(joined)
    ScalableWindow.withTrailingColumns(
      joinedCached, monthBucket, order, 24)(
      "temp_rolling_avg_24h" ->
        (w => avg(col("temperature_2m")).over(w.rowsBetween(-23, 0))))
      .select(col("time"), col("price_eur_mwh"), col("lag_1h"),
        col("lag_24h"), col("lag_168h"), col("rolling_avg_24h"),
        col("rolling_avg_7d"), col("hour_of_day"), col("day_of_week"),
        col("month"), col("is_weekend"), col("is_peak_hour"),
        col("temperature_2m"), col("wind_speed_10m"),
        col("shortwave_radiation"), col("cloud_cover"),
        col("precipitation_mm"), col("temp_rolling_avg_24h"),
        col("wind_speed_de_nord"), col("solar_de_nord"),
        col("solar_de_sued"), col("wind_speed_de_sued"),
        col("hydro_ror_ch_lag_24h"), col("hydro_ror_ch_lag_168h"),
        col("solar_gen_ch_lag_24h"), col("solar_gen_ch_lag_168h"),
        col("wind_gen_de_lag_24h"), col("wind_gen_de_lag_168h"),
        col("actual_load_ch_lag_24h"), col("actual_load_ch_lag_168h"),
        col("net_position_ch_lag_24h"), col("net_position_ch_lag_168h"),
        col("load_forecast_ch"))
  }

  /** Model A feature view, duplicate aliases included (SURVEY.md §7.4(7):
    * every column emitted explicitly, never `select(*)` across dups).
    * Persists its net-load series (see [[lagRolling]]).
    */
  def netLoadFeatures(
      winterthurLoad: DataFrame,
      winterthurPv: DataFrame,
      weatherHourly: DataFrame): DataFrame = {

    val net = winterthurLoad
      .join(winterthurPv, Seq("time"), "left")
      .withColumn("net_load_kwh",
        col("load_kwh") - coalesce(col("pv_kwh"), lit(0.0)))

    val withLags = lagRolling(net, col("net_load_kwh"),
      Seq(("load_lag_1h", 1, false), ("load_lag_1d", 24, false),
        ("load_lag_7d", 168, false), ("load_rolling_avg_24h", 24, true)))

    // coarse as-of alignment of 15-min rows to hourly weather:
    // date_trunc('hour', load.time) = weather.time (init.sql:452-455)
    val wr = weatherHourly
      .filter(col("latitude") === 47.5001 && col("longitude") === 8.7502)
      .select(col("time").as("__wtime"), col("temperature_2m"),
        col("wind_speed_10m"), col("shortwave_radiation"),
        col("cloud_cover"), col("precipitation_mm"))
    Relational.leftJoinExpr(withLags, broadcast(wr),
        date_trunc("hour", withLags("time")) === wr("__wtime"))
      .select(col("time"), col("net_load_kwh"),
        ScalarFns.hourOfDay(col("time")).as("hour_of_day"),
        ScalarFns.hourOfDay(col("time")).as("hour"),
        ScalarFns.dowPg(col("time")).as("day_of_week"),
        ScalarFns.dowPg(col("time")).as("weekday"),
        ScalarFns.monthOf(col("time")).as("month"),
        ScalarFns.quarterOf(col("time")).as("quarter"),
        ScalarFns.isWeekend(col("time")).as("is_weekend"),
        col("load_lag_1h"), col("load_lag_1d"), col("load_lag_7d"),
        col("load_rolling_avg_24h"),
        col("temperature_2m"), col("temperature_2m").as("temp_c"),
        col("wind_speed_10m"), col("wind_speed_10m").as("wind_speed_ms"),
        col("shortwave_radiation"),
        col("shortwave_radiation").as("ghi_wm2"),
        col("cloud_cover"), col("cloud_cover").as("cloud_cover_pct"),
        col("precipitation_mm"),
        coalesce(col("pv_kwh"), lit(0.0)).as("pv_feed_in_kwh"),
        coalesce(col("pv_kwh"), lit(0.0)).as("pv_feed_in"))
  }
}
