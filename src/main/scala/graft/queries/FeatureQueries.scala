package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions.ScalarFns
import graft.functions.Portable
import graft.functions.Portable.r6
import Shared._

/** Feature, split, model and roll-up keys (`f_*`, `feature_*`,
  * `split_*`, `ml_*`, `rollup_*`). */
private[graft] object FeatureQueries {

  /** DuckDB twin of [[hourlyGapGrid]] — shared CTE body for the two
    * gap-fill oracles (same pattern as minhashCtesSql: one definition,
    * zero drift between the sibling queries). */
  private val gapGridCtesSql =
    """e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
             value FROM events
           WHERE event_type IN ('click', 'signup')),
    span AS (SELECT date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1 FROM e),
    grid AS (SELECT t.event_type, g.h
             FROM (SELECT DISTINCT event_type FROM e) t,
                  (SELECT unnest(generate_series(
                     (SELECT h0 FROM span), (SELECT h1 FROM span),
                     INTERVAL 1 HOUR)) AS h) g),
    hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                 floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                   AS DOUBLE) / count(*) + 0.5) / 1e6 AS v
               FROM e GROUP BY 1, 2)"""

  /** Shared scaffold of the gap-fill family: hourly calendar grid per
    * event_type (span from one broadcast 1-row aggregate) left-joined
    * with the hourly rollup — `v` is NULL exactly on the gap hours.
    */
  private def hourlyGapGrid(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
      .filter(col("event_type").isin("click", "signup"))
      .select(col("event_type"), col("ts"), col("value"))
    val span = e.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    // hourly mean via the micro-unit exact-sum convention (full-surface
    // fuzzing found the raw avg+round(.,6) flipping at .5e-6 boundaries
    // — 6-decimal fuzz values averaged over small hours land exactly on
    // the boundary, where the engines' rounding modes disagree)
    val hourly = e
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg((floor(sum(floor(col("value") * lit(1e6) + lit(0.5)))
        .cast("double") / count(lit(1)) + lit(0.5)) / lit(1e6)).as("v"))
    grid.join(hourly, Seq("event_type", "h"), "left")
  }

  /** The oracle twin of [[ScalarFns.zorderKey]] over (l_partkey,
    * l_suppkey) mod 1024: column 0 supplies even bit positions, column 1
    * odd — identical shift/mask terms, OR-folded. */
  private val zorderSqlTerms: String = (0 until 10).flatMap(i => Seq(
    s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i})",
    s"((((l_suppkey % 1024) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  val queries: Seq[Q] = Seq(
    Q("split_chrono_ratio",
      (s, d) => ScalableRank.chronoSplit(ev(s, d), weekBucket, evOrder, 0.3)
        .select(col("event_id"), col("split")),
      s"""WITH $eventRanksSql
              SELECT r.event_id,
                CASE WHEN r.rn <= floor(n.n * (1 - 0.3)) THEN 'train'
                     ELSE 'test' END AS split
              FROM r, n"""),

    Q("split_by_dates",
      (s, d) => Relational.splitByDates(ev(s, d), to_date(col("ts")), 4, 4)
        .select(col("event_id"), col("split")),
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events)
              SELECT e.event_id,
                CASE WHEN CAST(e.ts AS DATE) <= a.maxd - 8 THEN 'train'
                     WHEN CAST(e.ts AS DATE) <= a.maxd - 4 THEN 'val'
                     ELSE 'test' END AS split
              FROM events e, a"""),

    Q("f_extract_calendar",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.hourOfDay(col("ts")).as("hour_of_day"),
        ScalarFns.dowPg(col("ts")).as("dow"),
        ScalarFns.monthOf(col("ts")).as("month"),
        ScalarFns.quarterOf(col("ts")).as("quarter")),
      """SELECT event_id, hour(ts) AS hour_of_day, dayofweek(ts) AS dow,
                month(ts) AS month, quarter(ts) AS quarter
              FROM events"""),

    Q("f_case_flags",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.isWeekend(col("ts")).as("is_weekend"),
        ScalarFns.isPeakHour(col("ts")).as("is_peak_hour")),
      """SELECT event_id,
                CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
                CASE WHEN hour(ts) BETWEEN 7 AND 22 THEN 1 ELSE 0 END AS is_peak_hour
              FROM events"""),

    Q("f_coalesce_arith",
      (s, d) => ev(s, d).select(col("event_id"),
        (col("value") - coalesce(
          when(col("event_type") === "view", col("value")) * lit(0.5),
          lit(0.0))).as("net")),
      """SELECT event_id,
                value - coalesce(
                  (CASE WHEN event_type = 'view' THEN value END) * 0.5, 0) AS net
              FROM events"""),

    Q("f_date_trunc",
      (s, d) => ev(s, d).select(col("event_id"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"),
        to_date(col("ts")).as("day")),
      """SELECT event_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                CAST(ts AS DATE) AS day
              FROM events"""),

    // backfill window generation (airflow/dags/backfill_dag.py:72-74):
    // one (window_start, window_end) row per day of the table's span —
    // sequence() is evaluated on ONE aggregate row, so the explode is a
    // single-row fanout, not a per-row array blowup
    Q("f_date_sequence",
      (s, d) => {
        val span = Tables.orders(s, d)
          .agg(to_date(min(col("o_orderdate"))).as("d0"),
            to_date(max(col("o_orderdate"))).as("d1"))
        span.select(explode(sequence(col("d0"), col("d1"),
            expr("interval 1 day"))).as("window_start"))
          .withColumn("window_end", date_add(col("window_start"), 1))
      },
      """WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                  CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
              days AS (SELECT CAST(unnest(generate_series(
                  CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                  INTERVAL 1 DAY)) AS DATE) AS window_start FROM span)
              SELECT window_start, window_start + 1 AS window_end
              FROM days"""),

    Q("f_tz_normalize",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.parseOffsetToUtc(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss+01:00")).as("utc_ts")),
      """SELECT event_id,
                date_trunc('second', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                  AS utc_ts
              FROM events"""),

    Q("f_ts_arithmetic",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.pointTimestamp(
          date_trunc("hour", col("ts")),
          (col("event_id") % 4) + 1, lit(15)).cast("timestamp_ntz")
          .as("point_ts")),
      """SELECT event_id,
                date_trunc('hour', CAST(ts AS TIMESTAMP))
                  + to_minutes(15 * (event_id % 4)) AS point_ts
              FROM events"""),

    Q("f_date_format",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.isoFormat(col("ts")).as("iso")),
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
              FROM events"""),

    Q("f_clip",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.clip(col("value"), 50.0, 300.0).as("clipped")),
      """SELECT event_id, least(greatest(value, 50.0), 300.0) AS clipped
              FROM events"""),

    Q("f_tariff_netz",
      (s, d) => {
        val e = ev(s, d)
        val g = e.groupBy(col("event_type").as("g"))
          .agg(min(col("value")).as("lmin"), max(col("value")).as("lmax"))
        e.join(broadcast(g), col("event_type") === col("g"))
          .select(col("event_id"),
            ScalarFns.tariffNetz(col("value"), col("lmin"), col("lmax"),
              lit(20.0), lit(30.0)).as("netzpreis"))
      },
      """SELECT event_id,
                least(greatest(30.0 * (ln * ln), 15.0), 35.0)
                  AS netzpreis
              FROM (SELECT event_id,
                      least(greatest((value - mn) / (mx - mn), 0.0), 1.0) AS ln
                    FROM (SELECT event_id, value,
                            min(value) OVER (PARTITION BY event_type) AS mn,
                            max(value) OVER (PARTITION BY event_type) AS mx
                          FROM events))"""),

    Q("f_tariff_energie",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.tariffEnergie(col("value"), lit(1.2), lit(3.0), lit(20.0))
          .as("energiepreis"),
        (ScalarFns.tariffEnergie(col("value"), lit(1.2), lit(3.0), lit(20.0))
          + lit(18.5)).as("gesamttarif")),
      """SELECT event_id,
                least(greatest(1.2 * (value / 10.0) + 3.0, 15.0), 25.0)
                  AS energiepreis,
                least(greatest(1.2 * (value / 10.0) + 3.0, 15.0), 25.0) + 18.5
                  AS gesamttarif
              FROM events"""),

    Q("f_round",
      // round-half-up in explicit floor form: Spark's BigDecimal rounding
      // and DuckDB's multiply-round diverge on ~0.1% of rows, so the
      // portable witness uses the same IEEE ops on both sides
      (s, d) => Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"),
        (floor(col("l_extendedprice") * col("l_discount") * lit(100.0)
          + lit(0.5)) / lit(100.0)).as("disc_amt"),
        (floor(col("l_discount") * lit(100.0) * lit(10000.0) + lit(0.5))
          / lit(10000.0)).as("disc_pct")),
      """SELECT l_orderkey, l_linenumber,
                floor(l_extendedprice * l_discount * 100.0 + 0.5) / 100.0
                  AS disc_amt,
                floor(l_discount * 100.0 * 10000.0 + 0.5) / 10000.0
                  AS disc_pct
              FROM lineitem"""),

    Q("f_price_level",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.priceLevel(col("value"), 100.0, 300.0).as("level")),
      """SELECT event_id,
                CASE WHEN value < 100.0 THEN 'low'
                     WHEN value > 300.0 THEN 'high'
                     ELSE 'medium' END AS level
              FROM events"""),

    Q("f_string_clean",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        lower(trim(col("source"))).as("src_clean"),
        regexp_extract(col("source"), "src([0-9]+)", 1).cast("int")
          .as("src_num"),
        substring(trim(col("text")), 1, 20).as("head")),
      """SELECT doc_id, lower(trim(source)) AS src_clean,
                CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER)
                  AS src_num,
                substr(trim(text), 1, 20) AS head
              FROM documents"""),

    Q("f_safe_float",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.safeFloat(
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)).as("k_val"),
        ScalarFns.safeFloat(col("event_type")).as("bad_val")),
      """SELECT event_id,
                TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE)
                  AS k_val,
                TRY_CAST(event_type AS DOUBLE) AS bad_val
              FROM events"""),

    Q("f_hash_sha256",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        sha2(col("text"), 256).as("h")),
      "SELECT doc_id, sha256(text) AS h FROM documents"),

    Q("f_coalesce",
      // the reference's `COALESCE(p.pv_kwh, 0)` after an unmatched left
      // join (`infra/db/init.sql:425`): missing dim rows become 0
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
            .filter(col("c_mktsegment") === "BUILDING")
            .withColumnRenamed("c_custkey", "o_custkey")
            .select(col("o_custkey"), col("c_acctbal"))),
          Seq("o_custkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("c_acctbal"), lit(0.0)).as("bal_or_zero")),
      """SELECT o.o_orderkey, coalesce(c.c_acctbal, 0.0) AS bal_or_zero
              FROM orders o
              LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer
                         WHERE c_mktsegment = 'BUILDING') c
                ON o.o_custkey = c.c_custkey"""),

    Q("f_arith_derive",
      (s, d) => Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("charge")),
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
              FROM lineitem"""),

    Q("ml_linreg",
      (s, d) => graft.ml.Baselines.linearFit(Tables.lineitem(s, d),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_extendedprice")),
      s"""SELECT l_returnflag,
                ${Portable.r4Sql("regr_slope(l_extendedprice, l_quantity)")}
                  AS slope,
                ${Portable.r4Sql(
                  "regr_intercept(l_extendedprice, l_quantity)")}
                  AS intercept,
                count(*) AS n
              FROM lineitem GROUP BY 1"""),

    Q("ml_naive_baseline",
      (s, d) => graft.ml.Baselines.naiveMeanMetrics(Tables.lineitem(s, d),
        col("l_extendedprice")),
      s"""WITH m AS (SELECT avg(l_extendedprice) AS mean FROM lineitem)
              SELECT ${Portable.r6Sql("avg(abs(l_extendedprice - m.mean))")} AS mae,
                ${Portable.r6Sql("sqrt(avg((l_extendedprice - m.mean) * (l_extendedprice - m.mean)))")} AS rmse
              FROM lineitem, m"""),

    // continuous-aggregate refresh (init.sql:94-100): a stale rollup
    // (missing late rows inside the refresh window) merged with a
    // window recompute must equal the from-scratch rollup — which is
    // exactly what the oracle computes
    Q("rollup_refresh_merge",
      (s, d) => {
        // integer-cents measure — see agg_time_bucket
        val e = ev(s, d)
          .withColumn("vc", floor(col("value") * 100 + lit(0.5)))
        val winStart = lit("2024-01-20 00:00:00").cast("timestamp_ntz")
        val winEnd = lit("2024-02-10 00:00:00").cast("timestamp_ntz")
        val stale = Aggregates.timeBucketAgg(
          e.filter(col("ts") < winStart || col("event_id") % 7 =!= 0),
          col("ts"), "1 hour", Seq(col("event_type")), col("vc"))
        rollupFromCents(Rollups.refreshMerge(stale, e, col("ts"), "1 hour",
          Seq(col("event_type")), col("vc"), winStart, winEnd))
      },
      hourlyRollupSql),

    // §3.2 end-to-end: the Model A feature view
    // (winterthur_net_load_features, init.sql:421-455) column-for-column —
    // inputs synthesized hourly from events so the whole spine
    // (join USING → coalesce → ScalableWindow lag/rolling → as-of expr
    // join → calendar flags → duplicate aliases) is oracle-verified.
    Q("feature_net_load_view",
      (s, d) => {
        // portable round-half-up in explicit floor form (see f_round):
        // Spark's BigDecimal rounding and DuckDB's diverge on boundary
        // values, the IEEE floor form is bit-identical
        def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        // hypertable-chunked read path: the view's time window is a
        // partition filter on the week-chunked layout (pruned before
        // IO). The window here is the dataset's observed span (derived,
        // not hardcoded) so the oracle — which reads the flat table —
        // sees identical input; at 100 TB a typical export window
        // prunes all but a few chunks.
        val span = Tables.eventsSpan(s, d)
        val e = Tables.eventsChunked(s, d, span._1, span._2)
          .withColumn("vc", floor(col("value") * 100 + lit(0.5)).cast("long"))
        val hour = date_trunc("hour", col("ts")).cast("timestamp_ntz")
        // load/pv are rounded to INTEGER-valued doubles: the downstream
        // 24-row rolling sum then stays exact in IEEE double under any
        // accumulation order (sliding-frame vs recompute), so the lag /
        // rolling outputs are bit-identical across engines. Group sums
        // and avgs run over per-row integer cents (vc), never raw
        // doubles — a raw-double sum inside a rounding boundary flips
        // with partial-aggregation order (see feature_training_view).
        // ONE corpus aggregate feeds load/pv/weather (r18): all three
        // group on the hour with at most an event_type gate, so a base
        // roll-up at (hour, event_type) grain serves them as exact
        // dim-sized roll-ups above the same exchange (the
        // feature_training_view precedent; integer sums/counts and
        // min/max roll up exactly)
        val base = e.groupBy(hour.as("time"), col("event_type").as("__et"))
          .agg(sum(col("vc")).as("__svc"), count(col("vc")).as("__cnt"),
            min(col("value")).as("__mnv"), max(col("value")).as("__mxv"))
          // materialized ONCE (r19) — the feature_training_view
          // rationale: the net-load view's lag-series persist and
          // weather broadcast run as separate jobs, each otherwise
          // re-aggregating the corpus; the checkpoint pins the
          // (hour × type)-grain roll-up, dim-sized at any scale.
          .localCheckpoint(false)
        val load = base.groupBy(col("time"))
          .agg(floor(sum(col("__svc")) / lit(100.0) + lit(0.5)).as("load_kwh"))
        val pv = base.filter(col("__et") === "view")
          .groupBy(col("time"))
          .agg(floor(sum(col("__svc")) / lit(100.0) / sum(col("__cnt")) +
            lit(0.5)).as("pv_kwh"))
        val weather = base.filter(col("__et") === "click")
          .groupBy(col("time"))
          .agg(r6(sum(col("__svc")) / lit(100.0) / sum(col("__cnt")))
              .as("temperature_2m"),
            r6(min(col("__mnv"))).as("wind_speed_10m"),
            r6(max(col("__mxv"))).as("shortwave_radiation"),
            sum(col("__cnt")).cast("double").as("cloud_cover"),
            r6(sum(col("__svc")) / lit(10000.0)).as("precipitation_mm"))
          .withColumn("latitude", lit(47.5001))
          .withColumn("longitude", lit(8.7502))
        graft.features.FeatureViews.netLoadFeatures(load, pv, weather)
          .select(col("time"),
            r6(col("net_load_kwh")).as("net_load_kwh"),
            col("hour_of_day"), col("hour"), col("day_of_week"),
            col("weekday"), col("month"), col("quarter"), col("is_weekend"),
            r6(col("load_lag_1h")).as("load_lag_1h"),
            r6(col("load_lag_1d")).as("load_lag_1d"),
            r6(col("load_lag_7d")).as("load_lag_7d"),
            r6(col("load_rolling_avg_24h")).as("load_rolling_avg_24h"),
            col("temperature_2m"), col("temp_c"), col("wind_speed_10m"),
            col("wind_speed_ms"), col("shortwave_radiation"), col("ghi_wm2"),
            col("cloud_cover"), col("cloud_cover_pct"),
            col("precipitation_mm"), col("pv_feed_in_kwh"), col("pv_feed_in"))
      },
      """WITH ev AS (SELECT *,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                FROM events),
              load AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                  AS time,
                  floor(sum(vc) / 100.0 + 0.5) AS load_kwh
                FROM ev GROUP BY 1),
              pv AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  floor(sum(vc) / 100.0 / count(vc) + 0.5) AS pv_kwh
                FROM ev WHERE event_type = 'view' GROUP BY 1),
              weather AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                  AS time,
                  floor(sum(vc) / 100.0 / count(vc) * 1000000 + 0.5) / 1000000
                    AS temperature_2m,
                  floor(min(value) * 1000000 + 0.5) / 1000000
                    AS wind_speed_10m,
                  floor(max(value) * 1000000 + 0.5) / 1000000
                    AS shortwave_radiation,
                  CAST(count(value) AS DOUBLE) AS cloud_cover,
                  floor(sum(vc) / 10000.0 * 1000000 + 0.5) / 1000000
                    AS precipitation_mm
                FROM ev WHERE event_type = 'click' GROUP BY 1),
              net AS (SELECT l.time, l.load_kwh, p.pv_kwh,
                  l.load_kwh - coalesce(p.pv_kwh, 0.0) AS net_load_kwh
                FROM load l LEFT JOIN pv p USING (time)),
              lagged AS (SELECT *,
                  lag(net_load_kwh, 1) OVER w AS load_lag_1h,
                  lag(net_load_kwh, 24) OVER w AS load_lag_1d,
                  lag(net_load_kwh, 168) OVER w AS load_lag_7d,
                  avg(net_load_kwh) OVER (w ROWS BETWEEN 23 PRECEDING
                    AND CURRENT ROW) AS load_rolling_avg_24h
                FROM net WINDOW w AS (ORDER BY time))
              SELECT l.time,
                floor(l.net_load_kwh * 1000000 + 0.5) / 1000000
                  AS net_load_kwh,
                hour(l.time) AS hour_of_day, hour(l.time) AS hour,
                dayofweek(l.time) AS day_of_week,
                dayofweek(l.time) AS weekday,
                month(l.time) AS month, quarter(l.time) AS quarter,
                CASE WHEN dayofweek(l.time) IN (0, 6) THEN 1 ELSE 0 END
                  AS is_weekend,
                floor(l.load_lag_1h * 1000000 + 0.5) / 1000000 AS load_lag_1h,
                floor(l.load_lag_1d * 1000000 + 0.5) / 1000000 AS load_lag_1d,
                floor(l.load_lag_7d * 1000000 + 0.5) / 1000000 AS load_lag_7d,
                floor(l.load_rolling_avg_24h * 1000000 + 0.5) / 1000000
                  AS load_rolling_avg_24h,
                w.temperature_2m, w.temperature_2m AS temp_c,
                w.wind_speed_10m, w.wind_speed_10m AS wind_speed_ms,
                w.shortwave_radiation, w.shortwave_radiation AS ghi_wm2,
                w.cloud_cover, w.cloud_cover AS cloud_cover_pct,
                w.precipitation_mm,
                coalesce(l.pv_kwh, 0.0) AS pv_feed_in_kwh,
                coalesce(l.pv_kwh, 0.0) AS pv_feed_in
              FROM lagged l
              LEFT JOIN weather w ON date_trunc('hour', l.time) = w.time"""),

    // §3.2 end-to-end: the Model B feature view (training_features,
    // init.sql:236-368, 33 columns) — CTE filters → bucketed lag/rolling
    // windows → conditional-sum groupBy → lag-over-agg → 9-way left join
    // → post-join rolling window, inputs synthesized hourly from events.
    // Every hourly measure goes through a per-row integer-cents scaling
    // (vc = floor(value*100 + 0.5), an identical IEEE op on both
    // engines) so the group sums are exact integers under ANY partial-
    // aggregation order. A raw-double sum inside floor(·+0.5) flips
    // whenever a group lands on a .5 boundary — one flows cell did
    // exactly that at sf0.01 — and the downstream lag columns then
    // differ by 1. The window sums stay exact too: every measure is an
    // integer-valued double.
    Q("feature_training_view",
      (s, d) => {
        // chunk-pruned read path — see feature_net_load_view
        val span = Tables.eventsSpan(s, d)
        val e = Tables.eventsChunked(s, d, span._1, span._2)
          .withColumn("vc", floor(col("value") * 100 + lit(0.5)).cast("long"))
        val hour = date_trunc("hour", col("ts")).cast("timestamp_ntz")
        val CH = "10YCH-SWISSGRIDZ"
        val DE = "10Y1001A1001A83F"
        // ONE corpus aggregate feeds all six synthesized tables (r18):
        // every grouping dim is a function of (hour, event_type,
        // user_id%3, event_id%2), so a base roll-up at that grain
        // (hours × types × 3 × 2 — dim-sized) serves prices, weather,
        // generation, load, flows and forecast as tiny exact roll-ups
        // above the SAME exchange (AQE ReusedExchange: the events scan
        // + shuffle runs once where the old shape ran it six times).
        // Exactness is preserved: integer-cents sums and counts roll up
        // exactly, min/max compose, and each output applies the same
        // final double division + floor as before.
        val base = e.groupBy(hour.as("time"),
            col("event_type").as("__et"),
            (col("user_id") % 3).as("__ug"),
            (col("event_id") % 2).as("__eg"))
          .agg(sum(col("vc")).as("__svc"),
            count(col("value")).as("__cnt"),
            min(col("value")).as("__mnv"),
            max(col("value")).as("__mxv"))
          // materialized ONCE (r19): the r18 shared-exchange claim held
          // only within a single job — FeatureViews persists its seven
          // lag series and builds three broadcasts, each in its OWN
          // job, and exchange reuse never crosses job boundaries, so
          // the one-shot run re-aggregated the corpus ~10× (driver
          // bench: 40 task-CPU-s vs 1.6 steady). The lazy checkpoint
          // pins the (hour × type × 3 × 2)-grain roll-up — dim-sized
          // at any corpus scale — so every downstream job reads it
          // instead of the events table.
          .localCheckpoint(false)
        def sumV: Column =
          floor(sum(col("__svc")) / lit(100.0) + lit(0.5)).cast("double")
        def avgV: Column = floor(sum(col("__svc")) / lit(100.0) /
          sum(col("__cnt")) + lit(0.5)).cast("double")
        val domain = when(col("__et").isin("click", "view"), CH)
          .otherwise("OTHER")
        val prices = base.groupBy(col("time"), domain.as("domain"))
          .agg(sumV.as("price_eur_mwh"))
        val lat = when(col("__ug") === 0, 47.5001)
          .when(col("__ug") === 1, 53.5).otherwise(48.5)
        val lon = when(col("__ug") === 0, 8.7502)
          .when(col("__ug") === 1, 10.0).otherwise(9.0)
        val weather = base
          .groupBy(col("time"), lat.as("latitude"), lon.as("longitude"))
          .agg(avgV.as("temperature_2m"),
            floor(min(col("__mnv")) + lit(0.5)).cast("double").as("wind_speed_10m"),
            floor(max(col("__mxv")) + lit(0.5)).cast("double").as("shortwave_radiation"),
            sum(col("__cnt")).cast("double").as("cloud_cover"),
            floor(sum(col("__svc")) / lit(10000.0) + lit(0.5)).cast("double")
              .as("precipitation_mm"))
        val psr = when(col("__et") === "click", "B12")
          .when(col("__et") === "view", "B16").otherwise("B19")
        val genDomain = when(col("__et").isin("click", "view"), CH)
          .otherwise(DE)
        val generation = base
          .groupBy(col("time"), genDomain.as("domain"), psr.as("psr_type"))
          .agg(sumV.as("quantity_mwh"))
        val actualLoad = base.groupBy(col("time"))
          .agg(sumV.as("load_mwh"))
          .withColumn("domain", lit(CH))
        val inD = when(col("__eg") === 0, DE).otherwise(CH)
        val outD = when(col("__eg") === 0, CH).otherwise(DE)
        val flows = base
          .groupBy(col("time"), inD.as("in_domain"), outD.as("out_domain"))
          .agg(sumV.as("flow_mwh"))
        val fcst = base.groupBy(col("time"))
          .agg(avgV.as("load_mwh"))
          .withColumn("domain", lit(CH))
        graft.features.FeatureViews.trainingFeatures(
          prices, weather, generation, actualLoad, flows, fcst)
      },
      """WITH ev AS (SELECT *,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                FROM events),
              prices AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  CASE WHEN event_type IN ('click', 'view')
                    THEN '10YCH-SWISSGRIDZ' ELSE 'OTHER' END AS domain,
                  floor(sum(vc) / 100.0 + 0.5) AS price_eur_mwh
                FROM ev GROUP BY 1, 2),
              weather AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  CASE WHEN user_id % 3 = 0 THEN 47.5001
                       WHEN user_id % 3 = 1 THEN 53.5 ELSE 48.5 END
                    AS latitude,
                  CASE WHEN user_id % 3 = 0 THEN 8.7502
                       WHEN user_id % 3 = 1 THEN 10.0 ELSE 9.0 END
                    AS longitude,
                  floor(sum(vc) / 100.0 / count(vc) + 0.5) AS temperature_2m,
                  floor(min(value) + 0.5) AS wind_speed_10m,
                  floor(max(value) + 0.5) AS shortwave_radiation,
                  CAST(count(value) AS DOUBLE) AS cloud_cover,
                  floor(sum(vc) / 10000.0 + 0.5) AS precipitation_mm
                FROM ev GROUP BY 1, 2, 3),
              gen AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  CASE WHEN event_type IN ('click', 'view')
                    THEN '10YCH-SWISSGRIDZ'
                    ELSE '10Y1001A1001A83F' END AS domain,
                  CASE WHEN event_type = 'click' THEN 'B12'
                       WHEN event_type = 'view' THEN 'B16'
                       ELSE 'B19' END AS psr_type,
                  floor(sum(vc) / 100.0 + 0.5) AS quantity_mwh
                FROM ev GROUP BY 1, 2, 3),
              aload AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  floor(sum(vc) / 100.0 + 0.5) AS load_mwh
                FROM ev GROUP BY 1),
              flows AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  CASE WHEN event_id % 2 = 0 THEN '10Y1001A1001A83F'
                    ELSE '10YCH-SWISSGRIDZ' END AS in_domain,
                  CASE WHEN event_id % 2 = 0 THEN '10YCH-SWISSGRIDZ'
                    ELSE '10Y1001A1001A83F' END AS out_domain,
                  floor(sum(vc) / 100.0 + 0.5) AS flow_mwh
                FROM ev GROUP BY 1, 2, 3),
              fcst AS (SELECT
                  date_trunc('hour', CAST(ts AS TIMESTAMP)) AS time,
                  floor(sum(vc) / 100.0 / count(vc) + 0.5) AS load_mwh
                FROM ev GROUP BY 1),
              pf AS (SELECT time, price_eur_mwh,
                  lag(price_eur_mwh, 1) OVER w AS lag_1h,
                  lag(price_eur_mwh, 24) OVER w AS lag_24h,
                  lag(price_eur_mwh, 168) OVER w AS lag_168h,
                  avg(price_eur_mwh) OVER (w ROWS BETWEEN 23 PRECEDING
                    AND CURRENT ROW) AS rolling_avg_24h,
                  avg(price_eur_mwh) OVER (w ROWS BETWEEN 167 PRECEDING
                    AND CURRENT ROW) AS rolling_avg_7d,
                  hour(time) AS hour_of_day,
                  dayofweek(time) AS day_of_week,
                  month(time) AS month,
                  CASE WHEN dayofweek(time) IN (0, 6) THEN 1 ELSE 0 END
                    AS is_weekend,
                  CASE WHEN hour(time) BETWEEN 7 AND 22 THEN 1 ELSE 0 END
                    AS is_peak_hour
                FROM prices WHERE domain = '10YCH-SWISSGRIDZ'
                WINDOW w AS (ORDER BY time)),
              g12 AS (SELECT time,
                  lag(quantity_mwh, 24) OVER w AS hydro_ror_ch_lag_24h,
                  lag(quantity_mwh, 168) OVER w AS hydro_ror_ch_lag_168h
                FROM gen WHERE domain = '10YCH-SWISSGRIDZ'
                  AND psr_type = 'B12'
                WINDOW w AS (ORDER BY time)),
              g16 AS (SELECT time,
                  lag(quantity_mwh, 24) OVER w AS solar_gen_ch_lag_24h,
                  lag(quantity_mwh, 168) OVER w AS solar_gen_ch_lag_168h
                FROM gen WHERE domain = '10YCH-SWISSGRIDZ'
                  AND psr_type = 'B16'
                WINDOW w AS (ORDER BY time)),
              g19 AS (SELECT time,
                  lag(quantity_mwh, 24) OVER w AS wind_gen_de_lag_24h,
                  lag(quantity_mwh, 168) OVER w AS wind_gen_de_lag_168h
                FROM gen WHERE domain = '10Y1001A1001A83F'
                  AND psr_type = 'B19'
                WINDOW w AS (ORDER BY time)),
              ld AS (SELECT time,
                  lag(load_mwh, 24) OVER w AS actual_load_ch_lag_24h,
                  lag(load_mwh, 168) OVER w AS actual_load_ch_lag_168h
                FROM aload WINDOW w AS (ORDER BY time)),
              npr AS (SELECT time,
                  sum(CASE WHEN out_domain = '10YCH-SWISSGRIDZ'
                    THEN flow_mwh ELSE 0 END)
                  - sum(CASE WHEN in_domain = '10YCH-SWISSGRIDZ'
                    THEN flow_mwh ELSE 0 END) AS net_position_ch
                FROM flows
                WHERE in_domain = '10YCH-SWISSGRIDZ'
                  OR out_domain = '10YCH-SWISSGRIDZ'
                GROUP BY 1),
              np AS (SELECT time,
                  lag(net_position_ch, 24) OVER w AS net_position_ch_lag_24h,
                  lag(net_position_ch, 168) OVER w
                    AS net_position_ch_lag_168h
                FROM npr WINDOW w AS (ORDER BY time)),
              joined AS (SELECT pf.*,
                  w1.temperature_2m, w1.wind_speed_10m,
                  w1.shortwave_radiation, w1.cloud_cover,
                  w1.precipitation_mm,
                  w2.wind_speed_10m AS wind_speed_de_nord,
                  w2.shortwave_radiation AS solar_de_nord,
                  w3.shortwave_radiation AS solar_de_sued,
                  w3.wind_speed_10m AS wind_speed_de_sued,
                  g12.hydro_ror_ch_lag_24h, g12.hydro_ror_ch_lag_168h,
                  g16.solar_gen_ch_lag_24h, g16.solar_gen_ch_lag_168h,
                  g19.wind_gen_de_lag_24h, g19.wind_gen_de_lag_168h,
                  ld.actual_load_ch_lag_24h, ld.actual_load_ch_lag_168h,
                  np.net_position_ch_lag_24h, np.net_position_ch_lag_168h,
                  f.load_mwh AS load_forecast_ch
                FROM pf
                LEFT JOIN (SELECT * FROM weather
                  WHERE latitude = 47.5001 AND longitude = 8.7502) w1
                  USING (time)
                LEFT JOIN (SELECT * FROM weather
                  WHERE latitude = 53.5 AND longitude = 10.0) w2
                  USING (time)
                LEFT JOIN (SELECT * FROM weather
                  WHERE latitude = 48.5 AND longitude = 9.0) w3
                  USING (time)
                LEFT JOIN g12 USING (time)
                LEFT JOIN g16 USING (time)
                LEFT JOIN g19 USING (time)
                LEFT JOIN ld USING (time)
                LEFT JOIN np USING (time)
                LEFT JOIN fcst f USING (time))
              SELECT time, price_eur_mwh, lag_1h, lag_24h, lag_168h,
                rolling_avg_24h, rolling_avg_7d, hour_of_day, day_of_week,
                month, is_weekend, is_peak_hour, temperature_2m,
                wind_speed_10m, shortwave_radiation, cloud_cover,
                precipitation_mm,
                avg(temperature_2m) OVER (ORDER BY time ROWS BETWEEN 23
                  PRECEDING AND CURRENT ROW) AS temp_rolling_avg_24h,
                wind_speed_de_nord, solar_de_nord, solar_de_sued,
                wind_speed_de_sued, hydro_ror_ch_lag_24h,
                hydro_ror_ch_lag_168h, solar_gen_ch_lag_24h,
                solar_gen_ch_lag_168h, wind_gen_de_lag_24h,
                wind_gen_de_lag_168h, actual_load_ch_lag_24h,
                actual_load_ch_lag_168h, net_position_ch_lag_24h,
                net_position_ch_lag_168h, load_forecast_ch
              FROM joined"""),

    // URL extraction + domain blocklist gate (curation filter); the
    // regex stays in the Java∩RE2 common dialect so both engines
    // evaluate it identically. Every fourth doc leads with a blocked
    // URL so BOTH branches of the gate carry verified rows.
    Q("f_url_extract",
      (s, d) => {
        val urlRe = "https?://[A-Za-z0-9.-]+[^ ]*"
        val domRe = "https?://([A-Za-z0-9.-]+)"
        val planted = Tables.documents(s, d).select(col("doc_id"),
          concat(
            when(col("doc_id") % 4 === 0,
              lit("ref http://blocked.example.org/x ")).otherwise(lit("")),
            lit("see https://site"),
            (col("doc_id") % 50).cast("string"),
            lit(".example.com/p?q=1 "),
            col("text")).as("text"))
        planted.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(urlRe), lit(0)))
            .cast("int").as("n_urls"),
          regexp_extract(col("text"), domRe, 1).as("first_domain"),
          regexp_extract(col("text"), domRe, 1)
            .isin("blocked.example.org", "spam.example.net")
            .cast("int").as("is_blocked"))
      },
      """WITH planted AS (SELECT doc_id,
                  CASE WHEN doc_id % 4 = 0
                    THEN 'ref http://blocked.example.org/x ' ELSE '' END
                    || 'see https://site' || CAST(doc_id % 50 AS VARCHAR)
                    || '.example.com/p?q=1 ' || text AS text
                FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  'https?://[A-Za-z0-9.-]+[^ ]*')) AS INTEGER) AS n_urls,
                regexp_extract(text, 'https?://([A-Za-z0-9.-]+)', 1)
                  AS first_domain,
                CAST(regexp_extract(text, 'https?://([A-Za-z0-9.-]+)', 1)
                  IN ('blocked.example.org', 'spam.example.net')
                  AS INTEGER) AS is_blocked
              FROM planted"""),

    // time-series gap filling + LOCF — TimescaleDB's
    // time_bucket_gapfill/locf re-expressed: calendar grid from one
    // 1-row span aggregate (broadcast crossJoin, no driver round-trip),
    // left join of the hourly rollup, forward fill via ignore-nulls
    // last() over a PARTITIONED window (the grid is calendar-bounded ×
    // dims, so no global sort at any input scale)
    Q("f_gap_fill_locf",
      (s, d) => hourlyGapGrid(s, d)
        .select(col("event_type"), col("h"),
          when(col("v").isNull, 1).otherwise(0).as("was_gap"),
          GapFill.locf(Seq(col("event_type")), col("h"), col("v"))
            .as("v_filled")),
      s"""WITH $gapGridCtesSql,
              joined AS (SELECT g.event_type, g.h, hv.v,
                           CASE WHEN hv.v IS NULL THEN 1 ELSE 0 END
                             AS was_gap
                         FROM grid g LEFT JOIN hourly hv
                           ON g.event_type = hv.event_type AND g.h = hv.h)
              SELECT event_type, h, was_gap,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
                  ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS v_filled
              FROM joined"""),

    // linear interpolation across gaps (TimescaleDB interpolate()):
    // previous/next known point via ignore-nulls last/first over the
    // backward and forward partitioned frames, then the time-weighted
    // blend; edges (no prior / no next point) fall back to the nearest
    // known value
    Q("f_gap_fill_interp",
      (s, d) => hourlyGapGrid(s, d)
        .select(col("event_type"), col("h"),
          // portable floor rounding: the time-weighted blend of two
          // 6-decimal hourly means lands exactly on .5e-6 boundaries
          (floor(GapFill.interpolate(Seq(col("event_type")), col("h"),
              col("v"), c => unix_seconds(c.cast("timestamp")))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("v_interp")),
      s"""WITH $gapGridCtesSql,
              joined AS (SELECT g.event_type, g.h, hv.v FROM grid g
                         LEFT JOIN hourly hv
                           ON g.event_type = hv.event_type AND g.h = hv.h),
              ctx AS (SELECT event_type, h, v,
                        last_value(v IGNORE NULLS) OVER w AS pv,
                        last_value(CASE WHEN v IS NOT NULL THEN h END
                          IGNORE NULLS) OVER w AS ph,
                        first_value(v IGNORE NULLS) OVER wf AS nv,
                        first_value(CASE WHEN v IS NOT NULL THEN h END
                          IGNORE NULLS) OVER wf AS nh
                      FROM joined
                      WINDOW w AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        wf AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
              SELECT event_type, h,
                floor(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (epoch(h) - epoch(ph))
                    / (epoch(nh) - epoch(ph))
                END * 1e6 + 0.5) / 1e6 AS v_interp
              FROM ctx"""),

    // counter semantics over each user's value stream: a drop is a
    // reset and the post-reset reading is its own increment
    // (TimescaleDB counter_agg/delta)
    Q("f_counter_delta",
      (s, d) => TimeSeries.counterDelta(ev(s, d), col("user_id"),
        col("ts"), col("value"), col("event_id"), keyName = "user_id"),
      s"""WITH d AS (SELECT user_id, value,
                       value - lag(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS d
                     FROM events)
              SELECT user_id, count(*) AS n_points,
                count(*) FILTER (WHERE d < 0) AS n_resets,
                ${Portable.r6Sql("sum(CASE WHEN d IS NULL THEN 0 WHEN d < 0 THEN value ELSE d END)")}
                  AS total_increase
              FROM d GROUP BY 1"""),

    // JSON field extraction from the raw event props payload — per-row
    // codegen'd path access, no UDF
    Q("f_json_extract",
      (s, d) => ev(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        length(col("props")).cast("int").as("props_len")),
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                CAST(len(props) AS INTEGER) AS props_len
              FROM events"""),

    // Z-order (Morton) layout key over two dims — interleaved-bit sort
    // key so parquet min/max pruning serves predicates on either
    // column; pure codegen'd long arithmetic, bit-identical in the
    // oracle's replayed shift/mask expression
    Q("f_zorder_key",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          ScalarFns.zorderKey(Seq(pmod(col("l_partkey"), lit(1024L)),
            pmod(col("l_suppkey"), lit(1024L))), bitsPer = 10).as("zkey")),
      s"""SELECT l_orderkey, l_linenumber,
                CAST(($zorderSqlTerms) AS BIGINT) AS zkey
              FROM lineitem"""),

    // winsorization: clip each value to its group's [p05, p95] band —
    // exact percentile aggregate per type (5 rows), broadcast back onto
    // the scan; both engines interpolate rank p·(n−1) linearly and the
    // clipped output is rounded at the emit boundary
    Q("f_winsorize",
      (s, d) => {
        val stats = ev(s, d).groupBy(col("event_type").as("__t"))
          .agg(expr("percentile(value, 0.05D)").as("__lo"),
            expr("percentile(value, 0.95D)").as("__hi"))
        ev(s, d).join(broadcast(stats), col("event_type") === col("__t"))
          .select(col("event_id"), col("event_type"), col("value"),
            // portable guarded floor-form round (r6): the clipped value
            // lands on a round(·,6) boundary double under fuzzed edges
            r6(least(greatest(col("value"), col("__lo")), col("__hi")))
              .as("winsorized"))
      },
      s"""WITH s AS (SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
                   FROM events GROUP BY 1)
              SELECT event_id, e.event_type, value,
                ${Portable.r6Sql("least(greatest(value, lo), hi)")} AS winsorized
              FROM events e JOIN s USING (event_type)"""),

    // per-group min-max feature scaling: broadcast per-type stats joined
    // back onto the scan (the median-impute shape); degenerate hi = lo
    // groups scale to NULL identically in both engines
    Q("f_minmax_scale",
      (s, d) => {
        val stats = ev(s, d).groupBy(col("event_type").as("__t"))
          .agg(min(col("value")).as("__lo"), max(col("value")).as("__hi"))
        ev(s, d).join(broadcast(stats), col("event_type") === col("__t"))
          .select(col("event_id"), col("event_type"), col("value"),
            when(col("__hi") > col("__lo"),
              r6((col("value") - col("__lo")) /
                (col("__hi") - col("__lo")))).as("scaled"))
      },
      s"""WITH s AS (SELECT event_type, min(value) AS lo,
                     max(value) AS hi FROM events GROUP BY 1)
              SELECT event_id, e.event_type, value,
                CASE WHEN hi > lo
                  THEN ${Portable.r6Sql("(value - lo) / (hi - lo)")} END AS scaled
              FROM events e JOIN s USING (event_type)"""),

    // deterministic k-means (2 Lloyd rounds, k=8) over integer-quantized
    // embeddings: hash-stride init, broadcast centroids, exact integer
    // distance/mean arithmetic so the assignment is partition-order
    // independent — see ml/KMeans.scala for the determinism contract
    Q("ml_kmeans_iter",
      (s, d) => {
        val q = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(100.0))).as("qv"))
        graft.ml.KMeans.assignIterations(q, col("vec_id"), col("qv"),
          k = 8, stride = 37, iters = 2)
      },
      s"""WITH $kmeansFirstPassSql,
              m1 AS (SELECT a1.cid, i AS pos, avg(q.v[i]) AS m
                     FROM a1 JOIN q USING (vec_id),
                       unnest(range(1, 65)) AS t(i)
                     GROUP BY 1, 2),
              c1 AS (SELECT cid, array_agg(m ORDER BY pos) AS v
                     FROM m1 GROUP BY cid),
              d2 AS (SELECT q.vec_id, c.cid,
                       list_sum(list_transform(range(1, 65),
                         i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
                     FROM q, c1 c),
              a2 AS (SELECT vec_id, cid, dist FROM (SELECT vec_id, cid,
                       dist, row_number() OVER (PARTITION BY vec_id
                         ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1)
              SELECT vec_id, cid AS cluster, ${Portable.r6Sql("dist")} AS dist
              FROM a2"""),

    // per-key percent change vs the previous reading (TimescaleDB
    // `delta`/`pct_change` family) — one partitioned lag, zero-guard on
    // the divisor pinned to NULL on both engines
    Q("f_pct_change",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
        ev(s, d).select(col("event_id"),
          lag(col("value"), 1).over(w).as("__p"), col("value"))
          .select(col("event_id"),
            // portable guarded floor-form round — the ratio lands on a
            // round(·,6) boundary double under fuzzed inputs (r15), and
            // extreme ratios (tiny __p vs large value) would saturate
            // Spark's Long floor without r6's magnitude cap (ADVICE r15)
            r6(when(col("__p") =!= 0,
              (col("value") - col("__p")) / col("__p"))).as("pct_change"))
      },
      s"""WITH t AS (SELECT event_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
                    FROM events),
                   r AS (SELECT event_id,
                      CASE WHEN p <> 0 THEN (value - p) / p END AS x
                    FROM t)
              SELECT event_id,
                ${Portable.r6Sql("x")}
                  AS pct_change
              FROM r"""),

    // leakage-safe group split: every doc of a source lands in the same
    // split (near-dups cluster within sources, so a row-hash split
    // leaks); portable md5 coin on the GROUP key, pure per-row expr
    Q("split_group_hash",
      (s, d) => Sampling.groupHashSplit(Tables.documents(s, d),
        col("source"), trainPerMille = 800)
        .select(col("doc_id"), col("source"), col("split")),
      """SELECT doc_id, source,
                CASE WHEN CAST(concat('0x', substr(md5(source), 1, 15))
                    AS BIGINT) % 1000 < 800
                  THEN 'train' ELSE 'test' END AS split
              FROM documents"""),

    // instantaneous counter rate per point (TimescaleDB irate): delta
    // over elapsed seconds with the counter-reset rule; exact µs
    // elapsed, duplicate-timestamp pairs yield NULL not ±inf
    Q("f_rate_irate",
      (s, d) => TimeSeries.irate(ev(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"))
        .select(col("event_id"), col("rate")),
      s"""WITH t AS (SELECT event_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv,
                      epoch_us(CAST(ts AS TIMESTAMP) -
                        lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS dt_us
                    FROM events)
              SELECT event_id,
                ${Portable.r6Sql("CASE WHEN dt_us > 0 THEN (CASE WHEN value >= pv THEN value - pv ELSE value END) / (CAST(dt_us AS DOUBLE) / 1e6) END")} AS rate
              FROM t WHERE pv IS NOT NULL"""),

    // recency feature: seconds since the user's previous purchase at
    // each event (strictly before — the current row never sees itself,
    // so purchase rows get their distance to the PRIOR purchase).
    // Running conditional max over a preceding frame; exact µs diff
    Q("f_recency_since_event",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
          .rowsBetween(Window.unboundedPreceding, -1)
        val lastPurchaseUs = max(when(col("event_type") === "purchase",
          unix_micros(col("ts").cast("timestamp")))).over(w)
        ev(s, d).select(col("event_id"),
          r6((unix_micros(col("ts").cast("timestamp")) - lastPurchaseUs)
            .cast("double") / 1e6).as("secs_since_purchase"))
      },
      s"""WITH t AS (SELECT event_id, ts,
                      max(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                        OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS last_us
                    FROM events)
              SELECT event_id,
                ${Portable.r6Sql("CAST(epoch_us(CAST(ts AS TIMESTAMP)) - last_us AS DOUBLE) / 1e6")} AS secs_since_purchase
              FROM t"""),

    // seasonal residual: value minus the (type, day-of-week, hour)
    // profile mean — the de-seasonalized signal anomaly scoring feeds on
    // integer-cents feed: the group mean's numerator is an exact
    // integer sum (order-free under partial aggregation), so both
    // engines subtract the bit-identical mean — no ulp drift into the
    // 1e-6 round on a boundary
    Q("f_seasonal_residual",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"),
          expr("date_part('DOW', ts)"), hour(col("ts")))
        ev(s, d)
          .withColumn("__vc", round(col("value") * 100, 0))
          .withColumn("residual",
            r6((col("__vc") - avg(col("__vc")).over(w)) / 100))
          .select(col("event_id"), col("residual"))
      },
      s"""SELECT event_id,
                ${Portable.r6Sql("(vc - avg(vc) OVER (PARTITION BY event_type, dw, hr)) / 100")} AS residual
              FROM (SELECT event_id, event_type,
                      round(value * 100, 0) AS vc,
                      date_part('dow', CAST(ts AS TIMESTAMP)) AS dw,
                      hour(CAST(ts AS TIMESTAMP)) AS hr
                    FROM events)"""),

    // arbitrary-width anchored time bucket — the time_bucket(width,
    // origin) hyperfunction date_trunc can't express; exact long
    // arithmetic (diff − diff mod width) on both engines
    Q("f_time_bucket_width",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.timeBucket(col("ts"), 90L,
          lit("2024-01-01 00:00:00")).as("bucket")),
      // oracle uses FLOOR modulo, not truncation: for ts BEFORE the
      // origin the offset d is negative and `d % w` follows d's sign,
      // putting the bucket start ABOVE ts — time_bucket semantics
      // floor toward -inf (the engine's pmod already does; full-surface
      // fuzzing with ±12 h jitter pushed rows across the origin and
      // exposed the oracle's truncating form)
      """SELECT event_id,
                make_timestamp(o + d - (((d % 90000000) + 90000000)
                  % 90000000)) AS bucket
              FROM (SELECT event_id,
                      epoch_us(TIMESTAMP '2024-01-01') AS o,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        - epoch_us(TIMESTAMP '2024-01-01') AS d
                    FROM events)"""),

    // half-life–decayed engagement score per user: weights are the
    // exact integers 2^(30 − age_days), summed then divided by 2^30 —
    // order-free exact, no rounding step needed (see decayScore doc)
    Q("f_exp_decay_score",
      (s, d) => EventAnalytics.decayScore(ev(s, d), col("user_id"),
        col("ts"), horizonDays = 30),
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS anchor
                    FROM events),
              t AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events)
              SELECT user_id,
                CAST(sum(CASE WHEN anchor - day BETWEEN 0 AND 30
                    THEN (CAST(1 AS BIGINT) << (30 - (anchor - day)))
                    ELSE 0 END) AS DOUBLE) / 1073741824.0 AS decay_score,
                count(*) AS n_events
              FROM t CROSS JOIN mx GROUP BY user_id"""),

    // deterministic categorical encoding by frequency rank — the
    // feature-pipeline encoder that is stable across runs/engines;
    // dictionary is category-sized (bounded global sort), rows attach
    // it by broadcast and never shuffle
    Q("f_label_encode",
      (s, d) => Aggregates.labelEncode(ev(s, d)
          .select(col("event_id"), col("event_type")), col("event_type"))
        .select(col("event_id"), col("event_type"), col("code")),
      """WITH d AS (SELECT event_type, count(*) AS n
                    FROM events GROUP BY 1),
              r AS (SELECT event_type,
                      CAST(row_number() OVER (ORDER BY n DESC, event_type)
                        AS BIGINT) AS code
                    FROM d)
              SELECT e.event_id, e.event_type, r.code
              FROM events e JOIN r USING (event_type)"""),

    // robust scaling (x − median)/IQR per type on integer cents:
    // quartile interpolation at quarter fractions over INTEGERS is
    // exact dyadic arithmetic — engine-formula-independent — and the
    // single edge division is deterministic (see robustScale doc)
    Q("f_robust_scale",
      (s, d) => Aggregates.robustScale(
        evCents(s, d),
        col("event_type"), col("__vc"))
        .select(col("event_id"), col("scaled")),
      s"""WITH src AS (SELECT event_id, event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events),
              st AS (SELECT event_type,
                      quantile_cont(c, 0.5) AS med,
                      quantile_cont(c, 0.25) AS q1,
                      quantile_cont(c, 0.75) AS q3
                    FROM src GROUP BY 1)
              SELECT s.event_id,
                CASE WHEN st.q3 > st.q1
                  THEN ${Portable.r6Sql("(s.c - st.med) / (st.q3 - st.q1)")} END
                  AS scaled
              FROM src s JOIN st USING (event_type)"""),

    // hashing-trick feature cross (event_type × iso-weekday) into 256
    // buckets with the portable md5 hash — the bounded-cardinality
    // encoding a training pipeline uses for high-cardinality crosses;
    // rows never shuffle wider than the 256-row aggregate.
    Q("f_feature_hash_cross",
      (s, d) => {
        val iso = ((dayofweek(col("ts")) + 5) % 7 + 1).cast("int")
        val cross = concat(col("event_type"), lit("|"), iso.cast("string"))
        ev(s, d)
          .select(graft.functions.PortableHash.md5Long(cross, 15)
            .mod(256).cast("int").as("bucket"), cross.as("__cross"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("__cross")).as("n_crosses"))
      },
      """WITH c AS (SELECT
                      CAST(CAST(concat('0x', substr(md5(concat(event_type,
                          '|', CAST(CAST(isodow(CAST(ts AS TIMESTAMP))
                            AS INTEGER) AS VARCHAR))), 1, 15)) AS BIGINT)
                        % 256 AS INTEGER) AS bucket,
                      concat(event_type, '|',
                        CAST(CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER)
                          AS VARCHAR)) AS cr
                    FROM events)
              SELECT bucket, count(*) AS n,
                CAST(count(DISTINCT cr) AS BIGINT) AS n_crosses
              FROM c GROUP BY 1"""),

    // Smoothed mean-target encoding (the classic categorical feature
    // transform): enc = (k_pos + m·prior) / (k_n + m), m = 10, prior =
    // global positive rate. All inputs are exact integer counts; the
    // two divisions run in the same order on both engines.
    Q("f_target_encode",
      (s, d) => {
        val base = ev(s, d)
          .withColumn("lab", when(col("value") >= 100, 1L).otherwise(0L))
        val g = base.agg(sum(col("lab")).as("gs"), count(lit(1)).as("gn"))
        base.groupBy(col("event_type"))
          .agg(sum(col("lab")).as("ks"), count(lit(1)).as("kn"))
          .crossJoin(broadcast(g))
          .select(col("event_type"), col("kn").as("n"),
            r6((col("ks") + lit(10.0) * col("gs") / col("gn")) /
              (col("kn") + lit(10))).as("enc"))
      },
      s"""WITH g AS (SELECT
                  CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gs,
                  count(*) AS gn FROM events),
              k AS (SELECT event_type,
                  CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ks,
                  count(*) AS kn FROM events GROUP BY 1)
              SELECT event_type, kn AS n,
                ${Portable.r6Sql("(ks + 10.0 * gs / gn) / (kn + 10)")} AS enc
              FROM k, g"""),

    // Equal-frequency decile binning (feature discretization) over the
    // global price order WITHOUT a single-partition sort: global row
    // numbers come from ScalableRank's bucketed offsets (bucket = a
    // coarse monotone prefix of the ordering), then
    // bin = ((rn-1)·10) div n. Ties broken by the (orderkey,
    // linenumber) unique key so the rank — hence the bin — is total.
    Q("f_quantile_bin",
      (s, d) => ScalableRank.globalRowNumber(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice")),
          floor(col("l_extendedprice") / 1000),
          Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")),
          "rn", Some("n"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          expr("((rn - 1) * 10) div n").as("bin")),
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
                CAST(((row_number() OVER (ORDER BY l_extendedprice,
                    l_orderkey, l_linenumber) - 1) * 10)
                  // (count(*) OVER ()) AS BIGINT) AS bin
              FROM lineitem"""),

    // Top-k one-hot encoding: indicator columns for the 3 most frequent
    // event types (count desc, name asc tie order) + an 'other' bucket —
    // the fixed-width categorical featurization; vocabulary is a
    // broadcast 3-row table, the encode is per-row codegen'd CASE.
    Q("f_onehot_topk",
      (s, d) => {
        val e = ev(s, d)
        val rk = e.groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
          .withColumn("__r", row_number()
            .over(Window.orderBy(col("__n").desc, col("event_type")))
            .cast("int"))
          .filter(col("__r") <= 3)
          .select(col("event_type"), col("__r"))
        e.join(broadcast(rk), Seq("event_type"), "left")
          .select(col("event_id"),
            when(col("__r") === 1, 1).otherwise(0).as("oh_1"),
            when(col("__r") === 2, 1).otherwise(0).as("oh_2"),
            when(col("__r") === 3, 1).otherwise(0).as("oh_3"),
            when(col("__r").isNull, 1).otherwise(0).as("oh_other"))
      },
      """WITH rk AS (SELECT event_type,
                  CAST(row_number() OVER (ORDER BY count(*) DESC,
                    event_type) AS INTEGER) AS r
                FROM events GROUP BY 1)
              SELECT e.event_id,
                CASE WHEN r = 1 THEN 1 ELSE 0 END AS oh_1,
                CASE WHEN r = 2 THEN 1 ELSE 0 END AS oh_2,
                CASE WHEN r = 3 THEN 1 ELSE 0 END AS oh_3,
                CASE WHEN r IS NULL OR r > 3 THEN 1 ELSE 0 END AS oh_other
              FROM events e
              LEFT JOIN rk ON e.event_type = rk.event_type"""),

    // Fixed-weight logistic quality classifier — the model-based corpus
    // filter every LLM pipeline runs after the heuristic filters
    // (text_quality): score = σ(w·features) with literal weights, keep
    // at σ ≥ 0.5. Features are exact counts; the one transcendental
    // (exp) is rounded at 6 decimals on both engines. Per-row codegen'd
    // expressions — a learned weight vector drops in as literals (or a
    // broadcast 1-row table) with zero plan change.
    Q("ml_logreg_score",
      (s, d) => {
        val f = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"),
            length(col("text")).cast("long").as("n_chars"))
          .select(col("doc_id"),
            size(col("__t")).cast("long").as("n_tokens"), col("n_chars"),
            size(array_distinct(col("__t"))).cast("long")
              .as("n_distinct"))
        val z = lit(-2.0) + lit(0.01) * col("n_tokens") +
          lit(0.0005) * col("n_chars") +
          lit(2.0) * (col("n_distinct").cast("double") / col("n_tokens"))
        f.select(col("doc_id"),
          r6(lit(1.0) / (lit(1.0) + exp(-z))).as("score"),
          when(lit(1.0) / (lit(1.0) + exp(-z)) >= 0.5, 1).otherwise(0)
            .as("keep"))
      },
      raw"""WITH f AS (SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                    AS BIGINT) AS n_tokens,
                  CAST(length(text) AS BIGINT) AS n_chars,
                  CAST(len(list_distinct(string_split_regex(
                    lower(trim(text)), '\s+'))) AS BIGINT) AS n_distinct
                FROM documents),
              z AS (SELECT doc_id,
                  -2.0 + 0.01 * n_tokens + 0.0005 * n_chars +
                    2.0 * (CAST(n_distinct AS DOUBLE) / n_tokens) AS z
                FROM f)
              SELECT doc_id, ${Portable.r6Sql("1.0 / (1.0 + exp(-z))")} AS score,
                CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END
                  AS keep
              FROM z"""),

    // Cyclical calendar encoding — the standard ML feature transform
    // that maps hour-of-day / day-of-week onto the unit circle so 23:00
    // and 00:00 are neighbors. Pure per-row codegen'd trigonometry.
    // Each round(...) is normalized with `+ 0.0` because the engines
    // disagree on the SIGN of zero, not the value: dow=7 gives
    // sin(2π) ≈ -2.45e-16, which C round (DuckDB) keeps as -0.0 while
    // Spark's BigDecimal HALF_UP yields +0.0. IEEE -0.0 + 0.0 = +0.0,
    // so the addition canonicalizes both engines at zero cost.
    Q("f_cyclic_encode",
      (s, d) => {
        val hr = ScalarFns.hourOfDay(col("ts")).cast("double")
        val dw = ScalarFns.dowPg(col("ts")).cast("double")
        def nz(c: Column): Column = c + lit(0.0)
        ev(s, d).select(col("event_id"),
          nz(r6(sin(hr * (lit(2) * lit(math.Pi) / 24)))).as("hr_sin"),
          nz(r6(cos(hr * (lit(2) * lit(math.Pi) / 24)))).as("hr_cos"),
          nz(r6(sin(dw * (lit(2) * lit(math.Pi) / 7)))).as("dow_sin"),
          nz(r6(cos(dw * (lit(2) * lit(math.Pi) / 7)))).as("dow_cos"))
      },
      s"""SELECT event_id,
                ${Portable.r6Sql("sin(hour(CAST(ts AS TIMESTAMP)) * (2 * pi() / 24))")} + 0.0 AS hr_sin,
                ${Portable.r6Sql("cos(hour(CAST(ts AS TIMESTAMP)) * (2 * pi() / 24))")} + 0.0 AS hr_cos,
                ${Portable.r6Sql("sin(dayofweek(CAST(ts AS TIMESTAMP)) * (2 * pi() / 7))")} + 0.0 AS dow_sin,
                ${Portable.r6Sql("cos(dayofweek(CAST(ts AS TIMESTAMP)) * (2 * pi() / 7))")} + 0.0 AS dow_cos
              FROM events"""),

    // Matrix-free top principal component by power iteration (2 fixed
    // iterations from the deterministic uniform seed): v ← Σᵢ xᵢ(xᵢ·v)
    // then normalize, computed as one dot-product pass + one
    // posexplode/keyed-sum pass per iteration. The driver only ever
    // holds the d = 64 vector — no covariance matrix, no collect of
    // vectors — so the same plan runs on 10¹¹ rows. Projections round
    // at 4 (two normalizations amplify the engines' sum-order noise).
    Q("ml_pca_power",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("emb"))
        val dim = 64
        var v: Array[Double] = Array.fill(dim)(1.0 / math.sqrt(dim))
        for (_ <- 1 to 2) {
          val dt = aggregate(
            zip_with(col("emb"), lit(v), (x, c) => x * c),
            lit(0.0), (acc, x) => acc + x)
          val w = emb.select(posexplode(col("emb")).as(Seq("j", "x")),
              dt.as("dt"))
            .groupBy(col("j")).agg(sum(col("x") * col("dt")).as("w"))
            .orderBy(col("j"))
            .collect().map(_.getAs[Double]("w"))
          val nrm = math.sqrt(w.map(x => x * x).sum)
          v = w.map(_ / nrm)
        }
        val proj = aggregate(
          zip_with(col("emb"), lit(v), (x, c) => x * c),
          lit(0.0), (acc, x) => acc + x)
        emb.select(col("vec_id"), Portable.r4(proj).as("proj"))
      },
      s"""WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                FROM embeddings),
              v0 AS (SELECT list_transform(range(64),
                  j -> 1.0 / sqrt(64)) AS v),
              d1 AS (SELECT vec_id, emb,
                  list_dot_product(emb, (SELECT v FROM v0)) AS dt FROM e),
              u1 AS (SELECT unnest(emb) AS x,
                  unnest(range(1, len(emb) + 1)) AS j, dt FROM d1),
              w1 AS (SELECT j, sum(x * dt) AS w FROM u1 GROUP BY j),
              n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
              v1 AS (SELECT list(w / (SELECT nrm FROM n1) ORDER BY j)
                  AS v FROM w1),
              d2 AS (SELECT vec_id, emb,
                  list_dot_product(emb, (SELECT v FROM v1)) AS dt FROM e),
              u2 AS (SELECT unnest(emb) AS x,
                  unnest(range(1, len(emb) + 1)) AS j, dt FROM d2),
              w2 AS (SELECT j, sum(x * dt) AS w FROM u2 GROUP BY j),
              n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2),
              v2 AS (SELECT list(w / (SELECT nrm FROM n2) ORDER BY j)
                  AS v FROM w2)
              SELECT vec_id,
                ${Portable.r4Sql(
                  "list_dot_product(emb, (SELECT v FROM v2))")}
                  AS proj
              FROM e"""),

    // Tokenizer-vocabulary coverage — the corpus-health readout before
    // committing to a fixed vocab: per document, the fraction of token
    // OCCURRENCES covered by the corpus's top-100 tokens. The vocab is
    // a broadcast 100-row table; the per-doc pass is one explode +
    // semi-join-shaped aggregate.
    Q("f_vocab_coverage",
      (s, d) => {
        val toks = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
        // top-100 via orderBy+limit (TakeOrderedAndProject — r18): the
        // old full-vocab row_number funneled every distinct token
        // through one WindowExec partition just to drop all but 100
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(100)
          .select(col("tok"), lit(1).as("in_v"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("in_v"), lit(0))).cast("long")
              .as("n_covered"),
            r6(sum(coalesce(col("in_v"), lit(0))) /
              count(lit(1)).cast("double")).as("coverage"))
      },
      raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
              vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c,
                    row_number() OVER (ORDER BY count(*) DESC, tok)
                      AS rk
                  FROM t GROUP BY tok) WHERE rk <= 100)
              SELECT doc_id, count(*) AS n_tokens,
                CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
                ${Portable.r6Sql("sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS coverage
              FROM t GROUP BY 1"""),

    // Two-feature ridge regression in closed form: the regularized
    // 2×2 normal equations ((C + λ/n·I)β = c_y with centered
    // moments), solved symbolically inside one aggregate — the
    // multi-feature step past ml_linreg that still needs NO iteration
    // and no driver matrix. λ = 1 on the normalized Gram.
    Q("ml_ridge2_closed_form",
      (s, d) => {
        val src = ev(s, d).select(col("value").as("y"),
          ScalarFns.hourOfDay(col("ts")).cast("double").as("x1"),
          ScalarFns.dowPg(col("ts")).cast("double").as("x2"))
        val m = src.agg(covar_pop(col("x1"), col("y")).as("c1y"),
          covar_pop(col("x2"), col("y")).as("c2y"),
          covar_pop(col("x1"), col("x2")).as("c12"),
          var_pop(col("x1")).as("v1"), var_pop(col("x2")).as("v2"),
          avg(col("x1")).as("m1"), avg(col("x2")).as("m2"),
          avg(col("y")).as("my"), count(lit(1)).as("n"))
        val det = (col("v1") + lit(1.0) / col("n")) *
          (col("v2") + lit(1.0) / col("n")) - col("c12") * col("c12")
        val b1 = (col("c1y") * (col("v2") + lit(1.0) / col("n")) -
          col("c2y") * col("c12")) / det
        val b2 = (col("c2y") * (col("v1") + lit(1.0) / col("n")) -
          col("c1y") * col("c12")) / det
        m.select(r6(b1).as("b1"), r6(b2).as("b2"),
          r6(col("my") - b1 * col("m1") - b2 * col("m2")).as("b0"),
          col("n"))
      },
      s"""WITH s AS (SELECT value AS y,
                  CAST(hour(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x1,
                  CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x2
                FROM events),
              m AS (SELECT covar_pop(x1,y) AS c1y, covar_pop(x2,y) AS c2y,
                  covar_pop(x1,x2) AS c12, var_pop(x1) AS v1,
                  var_pop(x2) AS v2, avg(x1) AS m1, avg(x2) AS m2,
                  avg(y) AS my, count(*) AS n FROM s)
              SELECT
                ${Portable.r6Sql("((c1y*(v2 + 1.0/n) - c2y*c12) / ((v1 + 1.0/n)*(v2 + 1.0/n) - c12*c12))")} AS b1,
                ${Portable.r6Sql("((c2y*(v1 + 1.0/n) - c1y*c12) / ((v1 + 1.0/n)*(v2 + 1.0/n) - c12*c12))")} AS b2,
                ${Portable.r6Sql(
                  "my - ((c1y*(v2 + 1.0/n) - c2y*c12) / ((v1 + 1.0/n)*(v2 + 1.0/n) - c12*c12)) " +
                    "* m1 - ((c2y*(v1 + 1.0/n) - c1y*c12) / ((v1 + 1.0/n)*(v2 + 1.0/n) - " +
                    "c12*c12)) * m2")} AS b0,
                CAST(n AS BIGINT) AS n
              FROM m"""),

    // Seasonal-naive forecasting baseline: predict this hour's exact-
    // cents revenue with the value 24 hours earlier, report masked
    // MAPE + MAE per type — the reference's naive-baseline discipline
    // (beat this before shipping a model) applied to the hourly series.
    Q("ml_seasonal_naive",
      (s, d) => {
        val h = hourlyCentsSeries(s, d)
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        h.withColumn("pred", lag(col("y"), 24).over(w))
          .filter(col("pred").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            r6(avg(abs(col("y") - col("pred")))).as("mae"),
            r6(avg(when(abs(col("y")) >= 10,
              abs(col("y") - col("pred")) / abs(col("y")))) * 100)
              .as("mape"))
      },
      s"""WITH $hourlyCentsSql,
              p AS (SELECT event_type, y, lag(y, 24) OVER
                  (PARTITION BY event_type ORDER BY hr) AS pred FROM h)
              SELECT event_type, count(*) AS n,
                ${Portable.r6Sql("avg(abs(y - pred))")} AS mae,
                ${Portable.r6Sql("avg(CASE WHEN abs(y) >= 10 THEN abs(y - pred)/abs(y) END) * 100")} AS mape
              FROM p WHERE pred IS NOT NULL GROUP BY 1"""),

    // Rolling-origin (expanding-window) CV folds over the day dim —
    // the time-series cross-validation the random k-fold split would
    // leak on: fold k trains on the first k/(folds+1) of days and
    // tests on the next slice. Pure day-dim arithmetic (the dim is
    // corpus-days-sized); events join against it downstream.
    Q("split_rolling_origin",
      (s, d) => {
        val days = ev(s, d).select(to_date(col("ts")).as("day")).distinct()
        val r = days
          .withColumn("rk", rank().over(Window.orderBy(col("day"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        r.crossJoin(broadcast(
            s.createDataFrame((1 to 3).map(k => Tuple1(k))).toDF("fold")))
          .withColumn("role",
            when(col("rk") <= floor(col("n") * col("fold") / 4),
              lit("train"))
            .when(col("rk") <= floor(col("n") * (col("fold") + 1) / 4),
              lit("test")))
          .filter(col("role").isNotNull)
          .select(col("fold"), col("day"), col("role"))
      },
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day
                FROM events),
              r AS (SELECT day, rank() OVER (ORDER BY day) AS rk,
                  count(*) OVER () AS n FROM days),
              folds AS (SELECT unnest(generate_series(1, 3)) AS fold)
              SELECT f.fold, r.day,
                CASE WHEN r.rk <= (r.n * f.fold) // 4 THEN 'train'
                  WHEN r.rk <= (r.n * (f.fold + 1)) // 4 THEN 'test'
                  END AS role
              FROM r CROSS JOIN folds f
              WHERE CASE WHEN r.rk <= (r.n * f.fold) // 4 THEN 'train'
                  WHEN r.rk <= (r.n * (f.fold + 1)) // 4 THEN 'test'
                  END IS NOT NULL"""),

    // Quantile normalization: map every value to its mid-rank uniform
    // quantile WITHIN its series — the rank-based feature transform
    // that kills distribution drift. The grouped (type, value) support
    // takes its per-type count of smaller values from a bucketed prefix
    // sum partitioned by type, so no per-type whole-partition sort runs.
    Q("f_quantile_normalize",
      (s, d) => {
        val g = ev(s, d).groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("ct"))
        val before = ScalableRank.globalPrefixSum(g, floor(col("value")),
          Seq(col("value")), col("ct"), "before",
          partitionBy = Seq(col("event_type")))
        val totals = g.groupBy(col("event_type"))
          .agg(sum(col("ct")).as("ntype"))
        val table = before.join(broadcast(totals), Seq("event_type"))
          .select(col("event_type"), col("value"),
            r6((col("before") + (col("ct") + 1) / lit(2.0)) /
              col("ntype")).as("q"))
        ev(s, d).select(col("event_id"), col("event_type"), col("value"))
          .join(table, Seq("event_type", "value"))
          .select(col("event_id"), col("q"))
      },
      s"""WITH r AS (SELECT event_id, event_type, value,
                  rank() OVER (PARTITION BY event_type ORDER BY value) +
                    (count(*) OVER (PARTITION BY event_type, value) - 1)
                      / 2.0 AS ar,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM events)
              SELECT event_id, ${Portable.r6Sql("ar / n")} AS q
              FROM r"""),

    // Per-day softmax share across series of the exact-cents revenue
    // (max-subtracted for overflow safety) — the normalized-exponential
    // mixture weighting used for temperature-style sampling policies.
    // Day-partition windows over the day×type dim.
    Q("f_softmax_share",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg((sum(floor(col("value") * 100 + lit(0.5)).cast("long")) /
            lit(10000.0)).as("x"))
        val wd = Window.partitionBy(col("day"))
        daily.withColumn("mx", max(col("x")).over(wd))
          .select(col("day"), col("event_type"),
            r6(exp(col("x") - col("mx")) /
              sum(exp(col("x") - col("mx"))).over(wd)).as("share"))
      },
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
                  sum(CAST(floor(value*100+0.5) AS BIGINT)) / 10000.0 AS x
                FROM events GROUP BY 1, 2),
              m AS (SELECT day, event_type, x,
                  max(x) OVER (PARTITION BY day) AS mx FROM d)
              SELECT day, event_type,
                ${Portable.r6Sql("exp(x - mx) / sum(exp(x - mx)) OVER (PARTITION BY day)")} AS share
              FROM m"""),

    // Reciprocal-rank fusion of two orderings (value-rank and
    // recency-rank) per series, top-10 — the standard no-tuning
    // reranker for combining retrieval signals (k = 60). All ranks are
    // deterministic (event_id tiebreaker).
    Q("f_rank_fusion",
      (s, d) => {
        val byV = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id"))
        val byT = Window.partitionBy(col("event_type"))
          .orderBy(col("ts").desc, col("event_id"))
        val f = ev(s, d).select(col("event_id"), col("event_type"),
          (lit(1.0) / (lit(60) + rank().over(byV)) +
            lit(1.0) / (lit(60) + rank().over(byT))).as("rrf"))
        f.withColumn("rnk", rank().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("rrf").desc, col("event_id"))))
          .filter(col("rnk") <= 10)
          .select(col("event_type"), col("event_id"),
            r6(col("rrf")).as("rrf_score"),
            col("rnk").cast("long").as("rnk"))
      },
      s"""WITH r AS (SELECT event_id, event_type,
                  rank() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id) AS rv,
                  rank() OVER (PARTITION BY event_type
                    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id) AS rt
                FROM events),
              f AS (SELECT event_id, event_type,
                  1.0/(60 + rv) + 1.0/(60 + rt) AS rrf FROM r),
              k AS (SELECT event_id, event_type, rrf,
                  rank() OVER (PARTITION BY event_type
                    ORDER BY rrf DESC, event_id) AS rk
                FROM f)
              SELECT event_type, event_id, ${Portable.r6Sql("rrf")} AS rrf_score,
                CAST(rk AS BIGINT) AS rnk
              FROM k WHERE rk <= 10"""),
  )
}
