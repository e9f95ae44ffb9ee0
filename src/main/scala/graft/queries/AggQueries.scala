package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.ops._
import graft.functions.ScalarFns
import graft.functions.Portable
import graft.functions.Portable.r6
import Shared._

/** Aggregate keys (`agg_*`). */
private[graft] object AggQueries {

  /** 30-minute-gap session ids per user, CTEs `t` (previous timestamp
    * `p`) and `s0(user_id, ts2, sid)`: the input of the session
    * statistics oracles. */
  private val sessionIdsSql =
    """t AS (SELECT user_id, event_id,
           CAST(ts AS TIMESTAMP) AS ts2,
           lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
         FROM events),
       s0 AS (SELECT user_id, ts2,
           sum(CASE WHEN p IS NULL
               OR ts2 > p + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts2, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
         FROM t)"""

  /** Event counts per (event_type, Postgres day of week) as doubles
    * `o`: the contingency table of the independence tests. */
  private def typeDowCells(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), ScalarFns.dowPg(col("ts")).as("dow"))
      .agg(count(lit(1)).cast("double").as("o"))

  /** DuckDB twin of [[typeDowCells]], CTE `cells(event_type, dow, o)`. */
  private val typeDowCellsSql =
    """cells AS (SELECT event_type,
           dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
           CAST(count(*) AS DOUBLE) AS o
         FROM events GROUP BY 1, 2)"""

  /** Calibration input: a deterministic 24-bit md5 score `h` per event
    * and the label `lab` = value >= 100. */
  private def hashedLabels(s: SparkSession, d: String): DataFrame =
    ev(s, d).select(
      graft.functions.PortableHash
        .md5Long(col("event_id").cast("string"), 6).as("h"),
      when(col("value") >= 100, 1L).otherwise(0L).as("lab"))

  /** DuckDB twin of [[hashedLabels]], CTE `t(h, lab)`. */
  private val hashedLabelsSql =
    """t AS (SELECT
           CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
             1, 6)) AS BIGINT) AS h,
           CASE WHEN value >= 100 THEN 1 ELSE 0 END AS lab
         FROM events)"""

  val queries: Seq[Q] = Seq(
    Q("agg_time_bucket",
      // integer-cents measure: the group avg is then exact in IEEE
      // double under any partial-aggregation order → bit-identical
      // across engines at every scale factor (raw-double group avgs
      // flip 6-decimal rounding boundaries)
      (s, d) => rollupFromCents(Aggregates.timeBucketAgg(
          ev(s, d).withColumn("vc", floor(col("value") * 100 + lit(0.5))),
          col("ts"), "1 hour", Seq(col("event_type")), col("vc"))),
      hourlyRollupSql),

    Q("agg_conditional_sum",
      (s, d) => Aggregates.conditionalNetSum(Tables.lineitem(s, d),
        Seq(col("l_linestatus")),
        col("l_returnflag") === "R", col("l_returnflag") === "A",
        col("l_quantity")),
      """SELECT l_linestatus,
                sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
              - sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS net
              FROM lineitem GROUP BY 1"""),

    Q("agg_count_min_max",
      (s, d) => Aggregates.countMinMax(ev(s, d), col("ts")),
      """SELECT count(*) AS n_rows, CAST(min(ts) AS TIMESTAMP) AS min_ts,
                CAST(max(ts) AS TIMESTAMP) AS max_ts FROM events"""),

    Q("agg_filtered_count",
      (s, d) => ev(s, d).agg(
        count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", lit(1))).as("n_error"),
        count(when(col("value") >= 100, lit(1))).as("n_hi"),
        max(when(col("event_type") === "error", col("ts"))).as("max_error_ts")),
      """SELECT count(*) AS n_total,
                count(*) FILTER (WHERE event_type = 'error') AS n_error,
                count(*) FILTER (WHERE value >= 100) AS n_hi,
                CAST(max(ts) FILTER (WHERE event_type = 'error') AS TIMESTAMP)
                  AS max_error_ts
              FROM events"""),

    Q("agg_grouped_counts",
      (s, d) => ev(s, d)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start")
            .cast("timestamp_ntz").as("bucket"))
        .count().withColumnRenamed("count", "n"),
      """SELECT event_type,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                count(*) AS n
              FROM events GROUP BY 1, 2"""),

    Q("agg_group_transform",
      (s, d) => Aggregates.groupDeviation(ev(s, d), to_date(col("ts")),
          col("value"), "deviation")
        .select(col("event_id"), r6(col("deviation")).as("deviation")),
      s"""SELECT event_id,
                ${Portable.r6Sql("value - avg(value) OVER (PARTITION BY CAST(ts AS DATE))")}
                  AS deviation
              FROM events"""),

    Q("agg_median_impute",
      (s, d) => {
        val e = ev(s, d).withColumn("x",
          when(col("value") < 10, lit(null)).otherwise(col("value")))
        Aggregates.medianImpute(e, col("event_type"), col("x"), "imputed")
          .select(col("event_id"), r6(col("imputed")).as("imputed"))
      },
      s"""WITH e AS (SELECT event_id, event_type,
                CASE WHEN value < 10 THEN NULL ELSE value END AS x FROM events),
              m AS (SELECT event_type, median(x) AS med FROM e GROUP BY 1)
              SELECT e.event_id, ${Portable.r6Sql("coalesce(e.x, m.med)")} AS imputed
              FROM e LEFT JOIN m USING (event_type)"""),

    Q("agg_metrics",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        Aggregates.regressionMetrics(li, col("l_extendedprice"),
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .select(r6(col("mae")).as("mae"),
            r6(col("rmse")).as("rmse"),
            r6(col("mape")).as("mape"))
      },
      s"""SELECT
                ${Portable.r6Sql("avg(abs(err))")} AS mae,
                ${Portable.r6Sql("sqrt(avg(err * err))")} AS rmse,
                ${Portable.r6Sql("avg(CASE WHEN abs(l_extendedprice) >= 10 THEN abs(err) / abs(l_extendedprice) END) * 100")} AS mape
              FROM (SELECT l_extendedprice,
                      l_extendedprice * (1 - l_discount) - l_extendedprice AS err
                    FROM lineitem)"""),

    Q("agg_percentiles",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.25)).as("p"),
          percentile(col("value"), lit(0.5)).as("p50x"),
          percentile(col("value"), lit(0.9)).as("p90x"))
        .select(col("event_type"), r6(col("p")).as("p25"),
          r6(col("p50x")).as("p50"), r6(col("p90x")).as("p90")),
      s"""SELECT event_type,
                ${Portable.r6Sql("quantile_cont(value, 0.25)")} AS p25,
                ${Portable.r6Sql("quantile_cont(value, 0.5)")} AS p50,
                ${Portable.r6Sql("quantile_cont(value, 0.9)")} AS p90
              FROM events GROUP BY 1"""),

    Q("agg_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(r6(sum(col("l_quantity"))).as("sum_qty"),
          count(lit(1)).as("n")),
      s"""SELECT l_returnflag, l_linestatus,
                ${Portable.r6Sql("sum(l_quantity)")} AS sum_qty, count(*) AS n
              FROM lineitem
              GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    Q("agg_pivot",
      (s, d) => ev(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "error"))
        .agg((sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)))
        .select(col("day"), col("click"), col("view"), col("error")),
      """SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS click,
                CAST(sum(CASE WHEN event_type = 'view'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS view,
                CAST(sum(CASE WHEN event_type = 'error'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS error
              FROM events GROUP BY 1"""),

    Q("agg_distinct_users",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
              FROM events GROUP BY 1"""),

    // skew mitigation: salted two-phase aggregation and a salted join
    // must equal their unsalted formulations — which is what the oracles
    // compute
    Q("agg_salted_skew",
      (s, d) => Skew.saltedAggregate(ev(s, d), col("event_type"),
          col("event_id"), saltBuckets = 8)(
          ("total", sum(floor(col("value") * lit(1e6) + lit(0.5))),
            c => sum(col(c))),
          ("n", count(col("value")), c => sum(col(c))),
          ("max_v", max(col("value")), c => max(col(c))))
        .select(col("key").as("event_type"),
          (col("total").cast("double") / lit(1e6)).as("total"),
          col("n"), col("max_v")),
      """SELECT event_type, CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total,
                count(value) AS n, max(value) AS max_v
              FROM events GROUP BY 1"""),

    // HLL distinct-count estimate checked against the exact count: the
    // verified property is the error BOUND (each engine computes its
    // own estimate — the estimates differ, the bound must not).
    Q("agg_approx_distinct",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("est"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
            .cast("int").as("hll_ok")),
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                CAST(1 AS INTEGER) AS hll_ok
              FROM events GROUP BY 1"""),

    // mergeable-sketch rollup — the 100 TB pattern for distinct counts:
    // per-day Datasketches HLL sketches union into weekly estimates
    // without re-touching raw rows (exact distinct needs the full id
    // set per window; sketches are constant-size and associative, the
    // same shape rollup_refresh_merge gives sums). Verified property:
    // merged weekly estimate within 5% of the exact weekly distinct.
    Q("agg_sketch_rollup",
      (s, d) => {
        val e = ev(s, d)
          .withColumn("week", to_date(date_trunc("week", col("ts"))))
        val daily = e.groupBy(col("week"), to_date(col("ts")).as("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val weekly = daily.groupBy(col("week"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = e.groupBy(col("week"))
          .agg(count_distinct(col("user_id")).as("n_exact"))
        exact.join(weekly, Seq("week"))
          .select(col("week"), col("n_exact"),
            (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
              .cast("int").as("merged_ok"))
      },
      """SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                  AS DATE) AS week,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                CAST(1 AS INTEGER) AS merged_ok
              FROM events GROUP BY 1"""),

    // second-moment aggregates (variance/correlation families): both
    // engines use numerically-stable one-pass forms; round(6) absorbs
    // the summation-order difference
    // second/cross moments from EXACT integer sums (fuzz-hardened):
    // the builtin stddev/var/corr/covar accumulate raw doubles whose
    // partial-aggregation order differs across engines, and
    // full-surface fuzzing caught `var` one ulp apart at a .5e-6
    // boundary. Convention: quantize value to exact micros per row,
    // then n, Σv, Σu as longs and Σv², Σu², Σuv as decimal(38,0)
    // (micros² outgrows a long at corpus scale; DuckDB's HUGEINT is
    // the twin) — the moment numerators n·Σxy − Σx·Σy are exact
    // integers on both engines, converted to double ONCE.
    Q("agg_stats_moments",
      (s, d) => {
        val vm = floor(col("value") * lit(1e6) + lit(0.5))
        val vmd = vm.cast("decimal(19,0)")
        val ud = col("user_id").cast("decimal(19,0)")
        val g = ev(s, d).groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(vm).as("sv"),
          sum((vmd * vmd).cast("decimal(38,0)")).as("svv"),
          sum(col("user_id")).as("su"),
          sum((ud * ud).cast("decimal(38,0)")).as("suu"),
          sum((ud * vmd).cast("decimal(38,0)")).as("suv"))
        val nD = col("n").cast("decimal(38,0)")
        def sq(c: Column, d2: Column): Column =
          (c.cast("decimal(19,0)") * d2.cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        val varnum = (nD * col("svv") - sq(col("sv"), col("sv")))
          .cast("double")
        val unum = (nD * col("suu") - sq(col("su"), col("su")))
          .cast("double")
        val covnum = (nD * col("suv") - sq(col("su"), col("sv")))
          .cast("double")
        val nn1 = (col("n") * (col("n") - lit(1))).cast("double")
        g.select(col("event_type"),
          when(col("n") > 1,
            floor(sqrt(varnum / nn1) + lit(0.5)) / lit(1e6)).as("sd"),
          when(col("n") > 1,
            floor(varnum / nn1 / lit(1e6) + lit(0.5)) / lit(1e6)).as("var"),
          when(varnum > 0 && unum > 0,
            floor(covnum / sqrt(varnum * unum) * lit(1e6) + lit(0.5)) /
              lit(1e6)).as("c"),
          when(col("n") > 1,
            floor(covnum / nn1 + lit(0.5)) / lit(1e6)).as("cv"))
      },
      """WITH g AS (SELECT event_type, count(*) AS n,
                  sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS sv,
                  sum(CAST(floor(value * 1e6 + 0.5) AS HUGEINT)
                    * CAST(floor(value * 1e6 + 0.5) AS HUGEINT)) AS svv,
                  sum(CAST(user_id AS BIGINT)) AS su,
                  sum(CAST(user_id AS HUGEINT)
                    * CAST(user_id AS HUGEINT)) AS suu,
                  sum(CAST(user_id AS HUGEINT)
                    * CAST(floor(value * 1e6 + 0.5) AS HUGEINT)) AS suv
                FROM events GROUP BY 1),
              m AS (SELECT event_type, n,
                  CAST(n * svv - CAST(sv AS HUGEINT) * sv AS DOUBLE)
                    AS varnum,
                  CAST(n * suu - CAST(su AS HUGEINT) * su AS DOUBLE)
                    AS unum,
                  CAST(n * suv - CAST(su AS HUGEINT) * sv AS DOUBLE)
                    AS covnum,
                  CAST(n * (n - 1) AS DOUBLE) AS nn1
                FROM g)
              SELECT event_type,
                CASE WHEN n > 1 THEN
                  floor(sqrt(varnum / nn1) + 0.5) / 1e6 END AS sd,
                CASE WHEN n > 1 THEN
                  floor(varnum / nn1 / 1e6 + 0.5) / 1e6 END AS var,
                CASE WHEN varnum > 0 AND unum > 0 THEN
                  floor(covnum / sqrt(varnum * unum) * 1e6 + 0.5) / 1e6
                  END AS c,
                CASE WHEN n > 1 THEN
                  floor(covnum / nn1 + 0.5) / 1e6 END AS cv
              FROM m"""),

    // ordered string aggregation — deterministic via explicit sort, the
    // portable form of LISTAGG/string_agg(ORDER BY)
    Q("agg_string_agg",
      (s, d) => Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("names")),
      """SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names
              FROM nation GROUP BY 1"""),

    // approximate percentile checked against the exact percentile by
    // error bound — the same cross-engine contract as the HLL queries.
    // At 100 TB the KLL/GK sketch is the only affordable per-group
    // quantile; exact percentile needs the full value set per group.
    Q("agg_approx_percentile",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("ex"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap"))
        .select(col("event_type"), r6(col("ex")).as("p50_exact"),
          (abs(col("ap") - col("ex")) <=
            greatest(abs(col("ex")) * 0.02, lit(0.5)))
            .cast("int").as("approx_ok")),
      s"""SELECT event_type,
                ${Portable.r6Sql("quantile_cont(value, 0.5)")} AS p50_exact,
                CAST(1 AS INTEGER) AS approx_ok
              FROM events GROUP BY 1"""),

    // native unpivot (wide → long melt) — the inverse of agg_pivot
    Q("agg_unpivot",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount")),
          "measure", "v")
        // Spark's unpivot RETAINS null measure rows, DuckDB's UNPIVOT
        // drops them — make the exclude-nulls semantics explicit so the
        // pair stays equivalent on nullable inputs, not just on this
        // (currently non-null) table
        .filter(col("v").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
          r6(col("v")).as("val")),
      s"""SELECT l_orderkey, l_linenumber, measure,
                ${Portable.r6Sql("val")} AS val
              FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount
                    FROM lineitem WHERE l_orderkey < 100)
              UNPIVOT (val FOR measure
                IN (l_quantity, l_extendedprice, l_discount))"""),

    // explicit GROUPING SETS with grouping() indicators — the general
    // form under rollup/cube: per-type totals, per-day totals, and the
    // grand total in ONE pass (Expand), not three scans
    Q("agg_grouping_sets",
      (s, d) => {
        ev(s, d).withColumn("day", to_date(col("ts")))
          .filter(col("day") <= "2024-01-03")
          .createOrReplaceTempView("graft_gs_events")
        s.sql("""SELECT event_type, day, count(*) AS n,
                   CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total,
                   CAST(grouping(event_type) AS INT) AS g_type,
                   CAST(grouping(day) AS INT) AS g_day
                 FROM graft_gs_events
                 GROUP BY GROUPING SETS ((event_type), (day), ())""")
      },
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
                CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total,
                CAST(grouping(event_type) AS INTEGER) AS g_type,
                CAST(grouping(CAST(ts AS DATE)) AS INTEGER) AS g_day
              FROM events
              WHERE CAST(ts AS DATE) <= DATE '2024-01-03'
              GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)),
                ())"""),

    // candlestick per (event_type, hour): ONE hash aggregate — open and
    // close are min_by/max_by over the padded (µs, id) order key, so no
    // window sort exists anywhere in the plan (TimeSeries.ohlc)
    Q("agg_ohlc",
      (s, d) => TimeSeries.ohlc(ev(s, d), col("event_type"),
        date_trunc("hour", col("ts")), col("ts"), col("value"),
        col("event_id")),
      """WITH k AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                       value,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                         lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
                     FROM events)
              SELECT event_type AS series, bucket,
                arg_min(value, ok) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ok) AS close,
                count(*) AS n
              FROM k GROUP BY 1, 2"""),

    // LOCF time-weighted average per (event_type, day) — each value
    // weighted by its holding interval; the day's last point closes the
    // span with weight 0 (TimescaleDB time_weight('LOCF'))
    Q("agg_time_weighted",
      (s, d) => TimeSeries.timeWeightedAvg(ev(s, d),
        Seq(col("event_type"), to_date(col("ts")).as("day")),
        col("ts"), col("value"), col("event_id")),
      s"""WITH p AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
                       epoch_us(lead(ts) OVER (PARTITION BY event_type,
                           CAST(ts AS DATE) ORDER BY ts, event_id))
                         - epoch_us(ts) AS w
                     FROM events)
              SELECT event_type, day,
                ${Portable.r6Sql("sum(value * w) / sum(w)")} AS twa,
                count(*) AS n_points
              FROM p GROUP BY 1, 2"""),

    // CUBE completes the rollup/grouping-sets family: all four
    // (event_type × dow) marginal combinations in one pass, grouping
    // flags exported so the oracle's NULL markers disambiguate
    Q("agg_cube",
      (s, d) => ev(s, d)
        .withColumn("dow", ScalarFns.dowPg(col("ts")))
        .cube(col("event_type"), col("dow"))
        .agg(grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("dow")).cast("int").as("g_dow"),
          count(lit(1)).as("n"), (sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)).as("sum_value")),
      """WITH e AS (SELECT event_type, dayofweek(ts) AS dow, value
                     FROM events)
              SELECT event_type, dow,
                CAST(GROUPING(event_type) AS INTEGER) AS g_type,
                CAST(GROUPING(dow) AS INTEGER) AS g_dow,
                count(*) AS n, CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_value
              FROM e GROUP BY CUBE (event_type, dow)"""),

    // deterministic mode per group: count pairs, then per-group argmax
    // with an explicit tie-break (built-in mode() is tie-arbitrary in
    // both engines, so neither side uses it)
    Q("agg_mode",
      (s, d) => {
        val c = ev(s, d).groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id"))
        c.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("event_type"), col("user_id").as("mode_user"),
            col("n").as("n_occurrences"))
      },
      """WITH c AS (SELECT event_type, user_id, count(*) AS n
                     FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, user_id, n,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY n DESC, user_id) AS rn
                    FROM c)
              SELECT event_type, user_id AS mode_user, n AS n_occurrences
              FROM r WHERE rn = 1"""),

    // frequent-items sketch with its containment guarantee as the
    // cross-engine contract (the §2.14 sketch pattern): every exactly-
    // frequent item must appear in the sketch result — a missed item
    // surfaces as contained=0 and fails the hash compare
    Q("agg_freq_items",
      (s, d) => {
        val e = ev(s, d)
        val counts = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum(col("n")).as("tot"))
        val sketch = e.stat.freqItems(Array("event_type"), 0.1)
        counts.crossJoin(broadcast(tot))
          .filter(col("n") > lit(0.1) * col("tot"))
          .crossJoin(broadcast(sketch))
          .select(col("event_type"),
            array_contains(col("event_type_freqItems"), col("event_type"))
              .cast("int").as("contained"))
      },
      """WITH c AS (SELECT event_type, count(*) AS n
                     FROM events GROUP BY 1),
              t AS (SELECT sum(n) AS tot FROM c)
              SELECT event_type, 1 AS contained
              FROM c, t WHERE n > 0.1 * tot"""),

    // equi-width histogram per event_type: tiny per-group min/max
    // aggregate broadcast back, then one hash aggregate over
    // (group, bin) — two scans, two group-sized shuffles at any scale
    Q("agg_histogram",
      (s, d) => TimeSeries.equiWidthHistogram(ev(s, d), col("event_type"),
        col("value"), nBins = 20)
        .select(col("group").as("event_type"), col("bin"), col("bin_lo"),
          col("n")),
      s"""WITH s AS (SELECT event_type, min(value) AS lo, max(value) AS hi
                     FROM events GROUP BY 1),
              b AS (SELECT e.event_type,
                      CAST(least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)),
                        19) AS INTEGER) AS bin,
                      s.lo, s.hi
                    FROM events e JOIN s USING (event_type))
              SELECT event_type, bin,
                ${Portable.r6Sql("lo + bin * ((hi - lo) / 20)")} AS bin_lo,
                count(*) AS n
              FROM b GROUP BY 1, 2, 3"""),

    // strict ordered funnel view→click→purchase: stage k needs an event
    // strictly after the user's stage-(k−1) time; one min-aggregate +
    // broadcastable per-user join per step, histogram of deepest stage
    Q("agg_funnel",
      (s, d) => EventAnalytics.funnelStages(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase")),
      funnelStagesSql),

    // weekly cohort retention: cohort = Monday of first active week; the
    // (user, week) grid is distinct before counting so count(*) is the
    // distinct-user count — no count-distinct shuffle
    Q("agg_retention_cohort",
      (s, d) => EventAnalytics.cohortRetention(ev(s, d), col("user_id"),
        col("ts")),
      """WITH wk AS (SELECT DISTINCT user_id,
                       date_trunc('week', ts) AS w FROM events),
              f AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1)
              SELECT cohort_week,
                     CAST((w - cohort_week) // 7 AS INTEGER) AS week_offset,
                     CAST(count(*) AS INTEGER) AS n_active
              FROM wk JOIN f USING (user_id) GROUP BY 1, 2"""),

    // robust dispersion: per-group median absolute deviation — two
    // exact-percentile stages, the group median broadcast back for the
    // deviation pass (the winsorize/median-impute shape)
    Q("agg_mad",
      (s, d) => {
        val med = ev(s, d).groupBy(col("event_type").as("__t"))
          .agg(expr("percentile(value, 0.5D)").as("__m"))
        ev(s, d).join(broadcast(med), col("event_type") === col("__t"))
          .groupBy(col("event_type"))
          .agg(r6(min(col("__m"))).as("median"),
            r6(expr("percentile(abs(value - __m), 0.5D)")).as("mad"))
      },
      s"""WITH m AS (SELECT event_type,
                      quantile_cont(value, 0.5) AS med
                    FROM events GROUP BY 1)
              SELECT e.event_type, ${Portable.r6Sql("min(med)")} AS median,
                ${Portable.r6Sql("quantile_cont(abs(value - med), 0.5)")} AS mad
              FROM events e JOIN m USING (event_type)
              GROUP BY e.event_type"""),

    // funnel conversion rate per weekly cohort: composes cohortRetention's
    // first-week table with funnelTimes' completion flags — one
    // broadcastable per-user join, exact integer ratios
    Q("agg_conversion_by_cohort",
      (s, d) => {
        val e = ev(s, d)
        val first = e
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("__wk"))
          .groupBy(col("user_id")).agg(min(col("__wk")).as("cohort_week"))
        val t = EventAnalytics.funnelTimes(e, col("user_id"), col("ts"),
          col("event_type"), Seq("view", "click", "purchase"))
        first.join(t.select(col("user_id"), col("t3")), Seq("user_id"),
            "left")
          .groupBy(col("cohort_week"))
          .agg(count(lit(1)).cast("int").as("n_users"),
            sum(when(col("t3").isNotNull, 1).otherwise(0)).cast("int")
              .as("n_converted"),
            r6(sum(when(col("t3").isNotNull, 1).otherwise(0)) /
              count(lit(1))).as("conversion_rate"))
      },
      s"""WITH ev0 AS (SELECT user_id, event_type,
                       CAST(events.ts AS TIMESTAMP) AS ts,
                       date_trunc('week', events.ts) AS wk FROM events),
              f AS (SELECT user_id, min(wk) AS cohort_week FROM ev0
                    GROUP BY 1),
              $funnelCtesSql
              SELECT cohort_week,
                CAST(count(*) AS INTEGER) AS n_users,
                CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)
                  AS INTEGER) AS n_converted,
                ${Portable.r6Sql("sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) / count(*)")} AS conversion_rate
              FROM f LEFT JOIN p USING (user_id)
              GROUP BY cohort_week"""),

    // OHLC MERGEABILITY (the continuous-aggregate rollup property):
    // weekly candles computed by MERGING daily candles — open/close
    // re-argmin/argmax over the day key, high/low/n re-min/max/sum —
    // must equal candles computed directly from raw events, which is
    // what the oracle does. At scale this is why a daily rollup can
    // serve any coarser granularity without rescanning the facts
    Q("agg_ohlc_merge",
      (s, d) => {
        val daily = TimeSeries.ohlc(ev(s, d), col("event_type"),
          date_trunc("day", col("ts")), col("ts"), col("value"),
          col("event_id"))
        daily.groupBy(col("series"),
          to_date(date_trunc("week", col("bucket"))).as("week"))
          .agg(min_by(col("open"), col("bucket")).as("open"),
            max(col("high")).as("high"), min(col("low")).as("low"),
            max_by(col("close"), col("bucket")).as("close"),
            sum(col("n")).as("n"))
      },
      """WITH k AS (SELECT event_type, date_trunc('week', ts) AS wk,
                      value,
                      lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                        lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
                    FROM events)
              SELECT event_type AS series, wk AS week,
                arg_min(value, ok) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ok) AS close,
                CAST(count(*) AS BIGINT) AS n
              FROM k GROUP BY 1, 2"""),

    // hour-of-day seasonal profile per series: hourly means plus each
    // hour's deviation from the series' overall mean — two hash aggs
    // and a broadcast of the per-type overall means
    Q("agg_seasonal_profile",
      (s, d) => {
        // micro-unit exact sums, ONE division per mean (the order- and
        // rounding-mode-insensitive convention; full-surface fuzzing
        // caught the raw-avg form flipping at a .5e-6 boundary)
        val hourly = ev(s, d)
          .groupBy(col("event_type"), hour(col("ts")).as("hod"))
          .agg((sum(floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / count(lit(1))).as("__m"),
            count(lit(1)).as("n"))
        val overall = ev(s, d).groupBy(col("event_type").as("__t"))
          .agg((sum(floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / count(lit(1))).as("__o"))
        hourly.join(broadcast(overall), col("event_type") === col("__t"))
          .select(col("event_type"), col("hod"),
            (floor(col("__m") + lit(0.5)) / lit(1e6)).as("mean_v"),
            (floor(col("__m") - col("__o") + lit(0.5)) / lit(1e6))
              .as("dev_from_overall"),
            col("n"))
      },
      """WITH h AS (SELECT event_type,
                      hour(CAST(ts AS TIMESTAMP)) AS hod,
                      CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / count(*) AS m, count(*) AS n
                    FROM events GROUP BY 1, 2),
              o AS (SELECT event_type,
                      CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / count(*) AS o
                    FROM events GROUP BY 1)
              SELECT event_type, CAST(hod AS INTEGER) AS hod,
                floor(m + 0.5) / 1e6 AS mean_v,
                floor(m - o + 0.5) / 1e6 AS dev_from_overall,
                CAST(n AS BIGINT) AS n
              FROM h JOIN o USING (event_type)"""),

    // lag-1 autocorrelation per series from explicit moment sums over
    // (x, prev x) pairs — one partitioned lag window + one hash agg,
    // the Pearson formula spelled out so both engines run identical
    // arithmetic (the anomalyZscore convention)
    Q("agg_autocorr",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(evOrder: _*)
        val p = ev(s, d).select(col("event_type"), col("value").as("__x"),
          lag(col("value"), 1).over(w).as("__y"))
          .filter(col("__y").isNotNull)
        p.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            r6((count(lit(1)) * sum(col("__x") * col("__y")) -
              sum(col("__x")) * sum(col("__y"))) /
              sqrt((count(lit(1)) * sum(col("__x") * col("__x")) -
                sum(col("__x")) * sum(col("__x"))) *
                (count(lit(1)) * sum(col("__y") * col("__y")) -
                  sum(col("__y")) * sum(col("__y"))))).as("autocorr"))
      },
      s"""WITH p AS (SELECT event_type, value AS x,
                      lag(value) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS y
                    FROM events)
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                ${Portable.r6Sql("(count(*) * sum(x * y) - sum(x) * sum(y)) / sqrt((count(*) * sum(x * x) - sum(x) * sum(x)) * (count(*) * sum(y * y) - sum(y) * sum(y)))")}
                  AS autocorr
              FROM p WHERE y IS NOT NULL GROUP BY event_type"""),

    // Gini concentration coefficient per group from the rank formula
    // G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n — one partitioned rank window
    // (tie-stable on event_id) + one hash aggregate
    Q("agg_gini",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        val cnt = Window.partitionBy(col("event_type"))
        ev(s, d).select(col("event_type"), col("value"),
          row_number().over(w).as("__i"),
          count(lit(1)).over(cnt).as("__n"))
          .groupBy(col("event_type"), col("__n"))
          // zero-sum guard: a group whose values sum to 0 (possible
          // with signed values) divides by zero — Spark's non-ANSI
          // division yields NULL while DuckDB yields ±inf/nan, so the
          // degenerate case must be pinned to NULL explicitly on BOTH
          // sides (the win_rolling_corr / f_minmax_scale convention)
          .agg(r6(when(sum(col("value")) =!= 0,
            lit(2.0) * sum(col("__i") * col("value")) /
              (col("__n") * sum(col("value"))) -
              (col("__n") + lit(1.0)) / col("__n"))).as("gini"))
          .select(col("event_type"), col("gini"), col("__n").as("n"))
      },
      s"""WITH r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS i,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
              SELECT event_type,
                ${Portable.r6Sql("CASE WHEN sum(value) <> 0 THEN 2.0 * sum(i * value) / (n * sum(value)) - (n + 1.0) / n END")} AS gini,
                CAST(n AS BIGINT) AS n
              FROM r GROUP BY event_type, n"""),

    // first-order Markov transition counts of each user's event stream —
    // one partitioned lag window + one hash agg on the (from, to) pair
    Q("agg_transition_matrix",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
        ev(s, d).select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("__prev"))
          .filter(col("__prev").isNotNull)
          .groupBy(col("__prev").as("from_type"),
            col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
      },
      """WITH x AS (SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
                FROM events)
              SELECT prev AS from_type, event_type AS to_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM x WHERE prev IS NOT NULL GROUP BY 1, 2"""),

    // conversion latency over the SAME strict funnel chain as agg_funnel:
    // per-user stage times from funnelTimes, then one global aggregate
    // of exact µs diffs (integers in doubles — order-independent sums)
    Q("agg_time_to_convert",
      (s, d) => {
        val t = EventAnalytics.funnelTimes(ev(s, d), col("user_id"),
          col("ts"), col("event_type"), Seq("view", "click", "purchase"))
        val secs = (unix_micros(col("t3").cast("timestamp")) -
          unix_micros(col("t1").cast("timestamp"))) / lit(1e6)
        t.filter(col("t3").isNotNull)
          .agg(count(lit(1)).cast("int").as("n_converted"),
            r6(avg(secs)).as("avg_seconds"),
            r6(max(secs)).as("max_seconds"))
      },
      s"""WITH ev0 AS (SELECT user_id, event_type,
                       CAST(ts AS TIMESTAMP) AS ts FROM events),
              $funnelCtesSql
              SELECT CAST(count(*) AS INTEGER) AS n_converted,
                ${Portable.r6Sql("avg((epoch_us(t3) - epoch_us(t1)) / 1e6)")}
                  AS avg_seconds,
                ${Portable.r6Sql("max((epoch_us(t3) - epoch_us(t1)) / 1e6)")}
                  AS max_seconds
              FROM v JOIN c USING (user_id) JOIN p USING (user_id)"""),

    // Shannon entropy of each user's event-type mix, from counts alone:
    // H = ln N − Σ n·ln n / N — two user-keyed hash aggs, the float sum
    // is over ≤5 type terms and round(6) absorbs partial-sum order
    Q("agg_entropy",
      (s, d) => {
        val c = ev(s, d).groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        c.groupBy(col("user_id"))
          .agg(r6(log(sum(col("n"))) -
            sum(col("n") * log(col("n"))) / sum(col("n"))).as("entropy"),
            sum(col("n")).as("n_events"))
      },
      s"""WITH c AS (SELECT user_id, event_type, count(*) AS n
                     FROM events GROUP BY 1, 2)
              SELECT user_id,
                ${Portable.r6Sql("ln(sum(n)) - sum(n * ln(n)) / sum(n)")} AS entropy,
                CAST(sum(n) AS BIGINT) AS n_events
              FROM c GROUP BY user_id"""),

    // time-in-state accounting (TimescaleDB state_agg): dwell time =
    // hold each event's type until the user's next event; exact integer
    // microsecond sums
    Q("agg_state_durations",
      (s, d) => TimeSeries.stateDurations(ev(s, d), col("user_id"),
        col("event_type"), col("ts"), col("event_id"), keyName = "user_id"),
      stateDurationsSql),

    // day-over-day churn over the distinct (user, day) grid; the last
    // observed day is excluded (everyone would "churn" because the data
    // ends, not because they left)
    Q("agg_churn",
      (s, d) => EventAnalytics.dailyChurn(ev(s, d), col("user_id"),
        col("ts")),
      """WITH d AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              mx AS (SELECT max(day) AS mw FROM d)
              SELECT a.day,
                CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
                count(*) AS active
              FROM d a CROSS JOIN mx
              LEFT JOIN d b ON b.day = a.day + 1 AND b.user_id = a.user_id
              WHERE a.day < mx.mw GROUP BY 1"""),

    // DAU/MAU stickiness: distinct users per day over distinct users in
    // the calendar month — the standard engagement ratio
    Q("agg_stickiness",
      (s, d) => EventAnalytics.stickiness(ev(s, d), col("user_id"),
        col("ts")),
      s"""WITH d AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
              mau AS (SELECT CAST(date_trunc('month', day) AS DATE) AS m,
                       count(DISTINCT user_id) AS mau FROM d GROUP BY 1)
              SELECT day, dau, mau,
                ${Portable.r6Sql("dau * 1.0 / mau")} AS stickiness
              FROM dau JOIN mau
                ON CAST(date_trunc('month', day) AS DATE) = mau.m"""),

    // per-user session statistics over the 30-minute-gap sessions of
    // win_sessionize: session count, mean duration, mean events/session
    Q("agg_session_stats",
      (s, d) => EventAnalytics.sessionStats(ev(s, d), col("user_id"),
        col("ts"), col("event_id")),
      s"""WITH $sessionIdsSql,
              s AS (SELECT user_id, sid, count(*) AS n_ev,
                      epoch_us(max(ts2) - min(ts2)) AS dur_us
                    FROM s0 GROUP BY 1, 2)
              SELECT user_id, count(*) AS n_sessions,
                ${Portable.r6Sql("CAST(sum(dur_us) AS DOUBLE) / 1e6 / count(*)")}
                  AS avg_dur_secs,
                ${Portable.r6Sql("sum(n_ev) * 1.0 / count(*)")} AS avg_events
              FROM s GROUP BY 1"""),

    // exact weighted median per group (lower median at unit weights);
    // integer cumulative weights keep the boundary comparison exact
    Q("agg_weighted_percentile",
      (s, d) => Aggregates.weightedMedian(ev(s, d), col("event_type"),
        col("value"), lit(1) + col("event_id") % 5, col("event_id"),
        groupName = "event_type"),
      s"""WITH t AS (SELECT event_type, value, event_id,
                      1 + event_id % 5 AS w FROM events),
              c AS (SELECT event_type, value, w,
                      sum(w) OVER (PARTITION BY event_type
                        ORDER BY value, event_id
                        ROWS UNBOUNDED PRECEDING) AS cw,
                      sum(w) OVER (PARTITION BY event_type) AS tw
                    FROM t)
              SELECT event_type, ${Portable.r6Sql("min(value)")} AS weighted_median
              FROM c WHERE 2 * cw >= tw GROUP BY 1"""),

    // rolling 7-day distinct actives per day (WAU): distinct user-day
    // grid, calendar-sized day list broadcast into the range join
    Q("agg_rolling_wau",
      (s, d) => EventAnalytics.rollingActiveUsers(ev(s, d),
        col("user_id"), col("ts"), windowDays = 7),
      """WITH g AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              d AS (SELECT DISTINCT day FROM g)
              SELECT d.day, count(DISTINCT g.user_id) AS wau
              FROM d JOIN g ON g.day BETWEEN d.day - 6 AND d.day
              GROUP BY 1"""),

    // load-duration curve per series: descending-rank decile bands with
    // mean level — band 1 is the peak-load decile
    Q("agg_load_duration",
      (s, d) => EventAnalytics.loadDurationBands(ev(s, d),
        col("event_type"), col("value"), col("event_id"), nBands = 10,
        seriesName = "event_type"),
      """WITH r AS (SELECT event_type, value,
                      ntile(10) OVER (PARTITION BY event_type
                        ORDER BY value DESC, event_id) AS band
                    FROM events)
              SELECT event_type, band,
                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_value,
                count(*) AS n
              FROM r GROUP BY 1, 2"""),

    // per-day ramp extremes (largest up/down step between consecutive
    // readings) — order-independent max/min, no float-sum caveats
    Q("agg_ramp_rate",
      (s, d) => TimeSeries.rampRates(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), col("value"),
        seriesName = "event_type"),
      s"""WITH t AS (SELECT event_type,
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day,
                      value - lag(value) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS d
                    FROM events)
              SELECT event_type, day, ${Portable.r6Sql("max(d)")} AS max_ramp_up,
                ${Portable.r6Sql("min(d)")} AS max_ramp_down
              FROM t WHERE d IS NOT NULL GROUP BY 1, 2"""),

    // A/B experiment readout: deterministic md5 variant assignment on
    // the user key (the split_group_hash coin), conversion = any
    // high-value purchase; exact integer counts, one user-keyed agg
    Q("agg_ab_lift",
      (s, d) => {
        val variant = when(pmod(graft.functions.PortableHash
          .md5Long(col("user_id").cast("string"), 15), lit(2)) === 0, "A")
          .otherwise("B")
        ev(s, d)
          .groupBy(col("user_id"), variant.as("variant"))
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") >= 100, 1).otherwise(0)).as("__c"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("__c")).cast("long").as("n_converted"),
            r6(sum(col("__c")).cast("double") / count(lit(1)))
              .as("conv_rate"))
      },
      s"""WITH v AS (SELECT user_id,
                      CASE WHEN CAST(concat('0x',
                          substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 2 = 0
                        THEN 'A' ELSE 'B' END AS variant,
                      max(CASE WHEN event_type = 'purchase'
                          AND value >= 100 THEN 1 ELSE 0 END) AS converted
                    FROM events GROUP BY 1, 2)
              SELECT variant, count(*) AS n_users,
                CAST(sum(converted) AS BIGINT) AS n_converted,
                ${Portable.r6Sql("sum(converted) * 1.0 / count(*)")} AS conv_rate
              FROM v GROUP BY 1"""),

    // counter mergeability: weekly totals built from daily
    // (first, last, inner-increase) partials with midnight boundary
    // terms must equal the direct weekly computation — which is exactly
    // what the oracle computes from raw rows
    Q("agg_counter_merge",
      (s, d) => TimeSeries.counterTotalsMerged(ev(s, d), col("user_id"),
        col("ts"), col("event_id"), col("value"), keyName = "user_id"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
                      event_id, floor(value * 1e6 + 0.5) AS v
                    FROM events),
              t AS (SELECT user_id,
                      CAST(date_trunc('week', ts2) AS DATE) AS week, v,
                      lag(v) OVER (PARTITION BY user_id,
                          date_trunc('week', ts2)
                        ORDER BY ts2, event_id) AS pv
                    FROM e)
              SELECT user_id, week,
                CAST(sum(CASE WHEN pv IS NULL THEN 0
                    WHEN v >= pv THEN v - pv
                    ELSE v END) AS DOUBLE) / 1e6 AS total_increase
              FROM t GROUP BY 1, 2"""),

    // gaps-and-islands: each event opens a 15-minute activity window;
    // overlapping/touching windows merge into maximal islands — the
    // interval-union primitive (session coverage, outage windows)
    Q("agg_interval_coalesce",
      (s, d) => quarterHourIntervals(s, d)(Intervals.coalesceIntervals),
      s"""WITH $quarterHourIvSql,
              $islandCtesSql
              SELECT user_id, min(s) AS island_start, max(e) AS island_end,
                count(*) AS n_intervals
              FROM g GROUP BY user_id, island"""),

    // union coverage: total covered seconds per user with overlap
    // counted once — same single keyed window, islands-sized reduce
    Q("agg_interval_coverage",
      (s, d) => quarterHourIntervals(s, d)(Intervals.unionCoverage),
      s"""WITH $quarterHourIvSql,
              $islandCtesSql,
              i AS (SELECT user_id, min(s) AS s, max(e) AS e
                    FROM g GROUP BY user_id, island)
              SELECT user_id,
                ${Portable.r6Sql("CAST(sum(epoch_us(e) - epoch_us(s)) AS DOUBLE) / 1e6")} AS covered_secs,
                count(*) AS n_islands
              FROM i GROUP BY 1"""),

    // mergeable quantile sketch: per-(type, day) fixed-bin histogram
    // partials sum into weekly histograms (exact integer merge), then
    // p50/p90/p99 read off as bin lower edges — the quantile twin of
    // agg_sketch_rollup's HLL merge. No raw-row recompute at the coarse
    // level; the oracle builds the weekly histogram directly and must
    // agree exactly because counts merge losslessly
    Q("agg_quantile_merge",
      (s, d) => {
        val e = ev(s, d)
        val rng = e.groupBy(col("event_type"))
          .agg(min(col("value")).as("__lo"), max(col("value")).as("__hi"))
        val wid = (col("__hi") - col("__lo")) / lit(50.0)
        val daily = e.join(broadcast(rng), "event_type")
          .withColumn("__bin",
            when(col("__hi") === col("__lo"), lit(0)).otherwise(
              least(floor((col("value") - col("__lo")) / wid).cast("int"),
                lit(49))))
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"),
            col("__bin"))
          .agg(count(lit(1)).as("__n"), min(col("__lo")).as("__lo"),
            min(col("__hi")).as("__hi"))
        val weekly = daily
          .groupBy(col("event_type"),
            to_date(date_trunc("week", col("__day"))).as("week"),
            col("__bin"))
          .agg(sum(col("__n")).as("__n"), min(col("__lo")).as("__lo"),
            min(col("__hi")).as("__hi"))
        val cw = Window.partitionBy(col("event_type"), col("week"))
          .orderBy(col("__bin"))
        val c = weekly
          .withColumn("__cum", sum(col("__n")).over(
            cw.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("__tot", sum(col("__n")).over(
            cw.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        def edge(q: Double) = r6(min(when(col("__cum") >= lit(q) * col("__tot"),
            col("__lo") + col("__bin") * (col("__hi") - col("__lo"))
              / lit(50.0))))
        c.groupBy(col("event_type"), col("week"))
          .agg(edge(0.5).as("p50"), edge(0.9).as("p90"), edge(0.99).as("p99"))
      },
      s"""WITH rng AS (SELECT event_type, min(value) AS lo,
                      max(value) AS hi FROM events GROUP BY 1),
              b AS (SELECT e.event_type,
                      CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP))
                        AS DATE) AS week,
                      CASE WHEN r.hi = r.lo THEN 0
                        ELSE least(CAST(floor((e.value - r.lo)
                          / ((r.hi - r.lo) / 50.0)) AS INT), 49) END AS bin,
                      r.lo AS lo, r.hi AS hi
                    FROM events e JOIN rng r USING (event_type)),
              h AS (SELECT event_type, week, bin, count(*) AS n,
                      min(lo) AS lo, min(hi) AS hi
                    FROM b GROUP BY 1, 2, 3),
              c AS (SELECT event_type, week, bin, lo, hi,
                      sum(n) OVER (PARTITION BY event_type, week
                        ORDER BY bin) AS cum,
                      sum(n) OVER (PARTITION BY event_type, week) AS tot
                    FROM h)
              SELECT event_type, week,
                ${Portable.r6Sql("min(CASE WHEN cum >= 0.5 * tot THEN lo + bin * (hi - lo) / 50.0 END)")} AS p50,
                ${Portable.r6Sql("min(CASE WHEN cum >= 0.9 * tot THEN lo + bin * (hi - lo) / 50.0 END)")} AS p90,
                ${Portable.r6Sql("min(CASE WHEN cum >= 0.99 * tot THEN lo + bin * (hi - lo) / 50.0 END)")} AS p99
              FROM c GROUP BY 1, 2"""),

    // collocation mining: document-frequency PMI over the top-50 vocab —
    // vocabulary broadcast, per-doc pair fanout bounded by C(50, 2)
    Q("agg_cooccurrence",
      (s, d) => TextOps.cooccurrence(Tables.documents(s, d), col("doc_id"),
        col("text"), vocabSize = 50, minPairCount = 2L),
      raw"""WITH tok AS (SELECT DISTINCT doc_id, unnest(
                      string_split_regex(lower(trim(text)), '\s+')) AS token
                    FROM documents),
              dfreq AS (SELECT token, count(*) AS n_docs FROM tok
                        GROUP BY 1),
              vocab AS (SELECT token, n_docs FROM dfreq
                        ORDER BY n_docs DESC, token LIMIT 50),
              hits AS (SELECT t.doc_id, t.token, v.n_docs FROM tok t
                       JOIN vocab v USING (token)),
              n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
              SELECT a.token AS token_a, b.token AS token_b,
                count(*) AS n_both,
                ${Portable.r6Sql("ln(count(*) * min(n.n) / (min(a.n_docs) * min(b.n_docs)))")} AS pmi
              FROM hits a JOIN hits b
                ON a.doc_id = b.doc_id AND a.token < b.token, n
              GROUP BY 1, 2 HAVING count(*) >= 2"""),

    // pairwise correlation matrix across event types on their aligned
    // per-day means — explicit sums formula, upper triangle
    Q("agg_corr_matrix",
      (s, d) => EventAnalytics.corrMatrix(ev(s, d), col("event_type"),
        to_date(col("ts")), col("value")),
      s"""WITH g AS (SELECT event_type AS s, CAST(ts AS DATE) AS b,
                      round(avg(round(value * 100, 0)) * 100, 0) AS v
                    FROM events GROUP BY 1, 2),
              p AS (SELECT a.s AS series_a, b.s AS series_b,
                      count(*) AS n_buckets, sum(a.v) AS sx, sum(b.v) AS sy,
                      sum(a.v * b.v) AS sxy, sum(a.v * a.v) AS sxx,
                      sum(b.v * b.v) AS syy
                    FROM g a JOIN g b ON a.b = b.b AND a.s < b.s
                    GROUP BY 1, 2)
              SELECT series_a, series_b, n_buckets,
                CASE WHEN sqrt(greatest(n_buckets * sxx - sx * sx, 0))
                    * sqrt(greatest(n_buckets * syy - sy * sy, 0)) = 0
                  THEN NULL
                  ELSE ${Portable.r6Sql("(n_buckets * sxy - sx * sy) / (sqrt(greatest(n_buckets * sxx - sx * sx, 0)) * sqrt(greatest(n_buckets * syy - sy * sy, 0)))")}
                END AS r
              FROM p"""),

    // exact distinct-count mergeability: daily member SETS union into
    // weekly exact uniques; the naive per-day sum overcounts returning
    // users — the proof that distinct counts don't add
    Q("agg_distinct_merge",
      (s, d) => Rollups.exactDistinctMerged(ev(s, d), col("event_type"),
        to_date(col("ts")), to_date(date_trunc("week", col("ts"))),
        col("user_id"), dimName = "event_type")
        .withColumnRenamed("bucket", "week"),
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                        AS DATE) AS week,
                      count(DISTINCT user_id) AS du
                    FROM events GROUP BY 1, 2, 3),
              w AS (SELECT event_type,
                      CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                        AS DATE) AS week,
                      count(DISTINCT user_id) AS eu
                    FROM events GROUP BY 1, 2)
              SELECT d.event_type, d.week, min(w.eu) AS exact_uniques,
                CAST(sum(d.du) AS BIGINT) AS naive_sum_uniques
              FROM d JOIN w ON d.event_type = w.event_type
                AND d.week = w.week
              GROUP BY 1, 2"""),

    // top-10 session navigation paths (30-min sessions, first 5 steps)
    Q("agg_top_paths",
      (s, d) => EventAnalytics.topPaths(ev(s, d), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        gapMinutes = 30, maxSteps = 5, k = 10),
      """WITH t AS (SELECT user_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts2, event_id,
                      lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
                    FROM events),
              s AS (SELECT user_id, event_type, ts2, event_id,
                      sum(CASE WHEN p IS NULL
                          OR ts2 > p + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
                        ORDER BY ts2, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS sid
                    FROM t),
              paths AS (SELECT array_to_string(
                          list(event_type ORDER BY ts2, event_id)[1:5], '>')
                          AS path
                        FROM s GROUP BY user_id, sid),
              c AS (SELECT path, count(*) AS n_sessions FROM paths
                    GROUP BY 1)
              SELECT path, n_sessions,
                CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
                  AS INT) AS rank
              FROM c ORDER BY n_sessions DESC, path LIMIT 10"""),

    // windowed funnel: signup converts iff the next purchase lands
    // within 24 h — the attribution-window conversion readout, built on
    // the forward as-of with deadline
    Q("agg_funnel_window",
      (s, d) => {
        val e = ev(s, d)
        val su = e.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"), col("ts"))
        val pu = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")).distinct()
          .withColumn("p_ts", col("ts"))
        AsOf.joinNextWithin(su, pu, Seq("user_id"), col("ts"), col("ts"),
            Seq("p_ts"), toleranceSeconds = 86400L)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("signups"),
            sum(col("p_ts").isNotNull.cast("long")).as("converted"),
            r6(sum(col("p_ts").isNotNull.cast("long")).cast("double")
              / count(lit(1))).as("conv_rate"))
      },
      s"""WITH su AS (SELECT event_id, user_id,
                      CAST(ts AS TIMESTAMP) AS ts2
                    FROM events WHERE event_type = 'signup'),
              pu AS (SELECT user_id, ts2 FROM (SELECT user_id,
                       CAST(ts AS TIMESTAMP) AS ts2 FROM events
                       WHERE event_type = 'purchase') GROUP BY 1, 2),
              j AS (SELECT s.event_id, CAST(s.ts2 AS DATE) AS day,
                      CASE WHEN p.ts2 IS NOT NULL
                        AND epoch_us(p.ts2) - epoch_us(s.ts2)
                          <= CAST(86400 AS BIGINT) * 1000000
                        THEN 1 ELSE 0 END AS conv
                    FROM su s ASOF LEFT JOIN pu p
                      ON s.user_id = p.user_id AND s.ts2 <= p.ts2)
              SELECT day, count(*) AS signups,
                CAST(sum(conv) AS BIGINT) AS converted,
                ${Portable.r6Sql("CAST(sum(conv) AS DOUBLE) / count(*)")} AS conv_rate
              FROM j GROUP BY 1"""),

    // Kaplan-Meier retention: product-limit survival over user tenure
    // with last-observed-day censoring — exact integer counts, the
    // running product as an order-pinned log-space cumulative sum, and
    // the all-at-risk-churn zero factor handled explicitly on both
    // engines (Spark ln(0) is NULL, DuckDB's is -inf)
    Q("agg_survival_curve",
      (s, d) => EventAnalytics.survivalCurve(ev(s, d), col("user_id"),
        col("ts")),
      s"""WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
                      max(CAST(ts AS DATE)) AS ld FROM events GROUP BY 1),
              mx AS (SELECT max(ld) AS m FROM u),
              t AS (SELECT date_diff('day', fd, ld) AS tenure,
                      CASE WHEN ld < (SELECT m FROM mx) THEN 1 ELSE 0 END
                        AS churned
                    FROM u),
              g AS (SELECT tenure, count(*) AS ending,
                      CAST(sum(churned) AS BIGINT) AS d_t
                    FROM t GROUP BY 1),
              k AS (SELECT tenure, d_t,
                      CAST(sum(ending) OVER (ORDER BY tenure DESC)
                        AS BIGINT) AS at_risk
                    FROM g),
              sfin AS (SELECT tenure, at_risk, d_t,
                      CASE WHEN max(CASE WHEN d_t = at_risk THEN 1 ELSE 0
                          END) OVER (ORDER BY tenure ROWS BETWEEN
                            UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                        THEN 0.0
                        ELSE ${Portable.r6Sql(
                          "exp(sum(CASE WHEN d_t = at_risk THEN 0 ELSE ln(1.0 - CAST(d_t AS " +
                            "DOUBLE) / at_risk) END) OVER (ORDER BY tenure ROWS BETWEEN " +
                            "UNBOUNDED PRECEDING AND CURRENT ROW))")}
                        END AS survival
                    FROM k)
              SELECT CAST(tenure AS INTEGER) AS tenure, at_risk, d_t,
                survival
              FROM sfin"""),

    // day-of-week × hour activity heatmap with per-type cell share —
    // one cells-sized hash aggregate + a cells-sized window
    Q("agg_heatmap_2d",
      (s, d) => EventAnalytics.activityHeatmap(ev(s, d),
        col("event_type"), col("ts"))
        .withColumnRenamed("group", "event_type"),
      s"""WITH c AS (SELECT event_type,
                      CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER)
                        AS isodow,
                      CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
                      count(*) AS n
                    FROM events GROUP BY 1, 2, 3)
              SELECT event_type, isodow, hr, n,
                ${Portable.r6Sql("n / sum(n) OVER (PARTITION BY event_type)")}
                  AS share
              FROM c"""),

    // power-of-two latency/size histogram: bucket = length of the
    // binary representation (⌊log2⌋+1 with zero float risk); counts
    // merge across shards by plain sum, output ≤ 64 rows at any scale
    Q("agg_log2_histogram",
      (s, d) => Aggregates.log2Histogram(ev(s, d),
        round(col("value") * 100, 0)),
      """WITH src AS (SELECT CAST(round(value * 100, 0) AS BIGINT)
                      AS c FROM events)
              SELECT CASE WHEN c <= 0 THEN 0
                  ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
                count(*) AS n, min(c) AS lo, max(c) AS hi
              FROM src GROUP BY 1"""),

    // per-day session bounce rate (1-event sessions / sessions, 30-min
    // gap sessionization) — the same single user-keyed window as
    // agg_session_stats, then a days-sized aggregate
    Q("agg_bounce_rate",
      (s, d) => EventAnalytics.bounceRate(ev(s, d), col("user_id"),
        col("ts"), col("event_id")),
      s"""WITH $sessionIdsSql,
              s AS (SELECT user_id, sid, count(*) AS n_ev,
                      min(ts2) AS start_ts
                    FROM s0 GROUP BY 1, 2)
              SELECT CAST(start_ts AS DATE) AS day, count(*) AS n_sessions,
                CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounce,
                ${Portable.r6Sql("CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*)")} AS bounce_rate
              FROM s GROUP BY 1"""),

    // percentile read over the MERGEABLE log2 histogram sketch: at
    // 100 TB the per-shard ≤64-row histograms merge by count addition
    // and this query runs on the merged sketch — no raw re-scan, no
    // global sort. Integer/string arithmetic only.
    Q("agg_hdr_percentile",
      (s, d) => Aggregates.hdrPercentiles(ev(s, d), col("event_type"),
        round(col("value") * 100, 0), groupName = "event_type"),
      """WITH src AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events),
              h AS (SELECT event_type,
                      CASE WHEN c <= 0 THEN 0
                        ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
                      count(*) AS n
                    FROM src GROUP BY 1, 2),
              cum AS (SELECT event_type, bucket, n,
                        sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS cn,
                        sum(n) OVER (PARTITION BY event_type) AS tot
                      FROM h)
              SELECT event_type,
                min(CASE WHEN cn >= CAST(ceil(0.50 * tot) AS BIGINT)
                  THEN bucket END) AS p50_bucket,
                min(CASE WHEN cn >= CAST(ceil(0.90 * tot) AS BIGINT)
                  THEN bucket END) AS p90_bucket,
                min(CASE WHEN cn >= CAST(ceil(0.99 * tot) AS BIGINT)
                  THEN bucket END) AS p99_bucket
              FROM cum GROUP BY 1"""),

    // Theil–Sen robust slope per type: median pairwise slope of the
    // daily cents series — the O(d²) blowup confined to each group's
    // DAILY aggregate (d days, not events). Median by exact middle-rank
    // selection; each slope one IEEE division of exact integers.
    Q("agg_theil_sen",
      (s, d) => Aggregates.theilSen(ev(s, d), col("event_type"),
        col("ts"), round(col("value") * 100, 0), epoch = "2024-01-01",
        groupName = "event_type"),
      s"""WITH daily AS (SELECT event_type,
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS c
                    FROM events GROUP BY 1, 2),
              dd AS (SELECT event_type,
                       CAST(datediff('day', DATE '2024-01-01', day)
                         AS BIGINT) AS x, c
                     FROM daily),
              sl AS (SELECT a.event_type,
                       CAST(b.c - a.c AS DOUBLE)
                         / CAST(b.x - a.x AS DOUBLE) AS slope
                     FROM dd a JOIN dd b
                       ON a.event_type = b.event_type AND a.x < b.x),
              r AS (SELECT event_type, slope,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY slope) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM sl)
              SELECT event_type, ${Portable.r6Sql("avg(slope)")} AS theil_sen_slope,
                CAST(max(n) AS BIGINT) AS n_pairs
              FROM r WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
              GROUP BY 1"""),

    // cohort LTV curve off orders: first-purchase-month cohorts,
    // integer-cents revenue per months-since-cohort with the running
    // cumulative an LTV chart plots — cells-sized windows only.
    Q("agg_cohort_ltv",
      (s, d) => EventAnalytics.cohortLtv(Tables.orders(s, d),
        col("o_custkey"), to_date(col("o_orderdate")),
        round(col("o_totalprice") * 100, 0)),
      """WITH fo AS (SELECT o_custkey,
                      CAST(min(date_trunc('month', o_orderdate)) AS DATE)
                        AS cohort
                    FROM orders GROUP BY 1),
              r AS (SELECT f.cohort,
                      CAST(datediff('month', f.cohort,
                        CAST(date_trunc('month', o.o_orderdate) AS DATE))
                        AS INTEGER) AS m,
                      CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                        AS cents
                    FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey),
              g AS (SELECT cohort, m,
                      CAST(sum(cents) AS BIGINT) AS rev_cents,
                      count(*) AS n_orders
                    FROM r GROUP BY 1, 2)
              SELECT cohort, m, rev_cents, n_orders,
                CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY m
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
              FROM g"""),

    // skyline / Pareto frontier of users over (total spend cents,
    // event count): computed on DISTINCT cells with two bounded
    // windows instead of the naive O(n²) dominance self-join; the
    // oracle IS that naive formulation — same frontier.
    Q("agg_skyline_pareto",
      (s, d) => EventAnalytics.skyline(
        ev(s, d).groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"),
            count(lit(1)).as("n")),
        "cents", "n"),
      """WITH u AS (SELECT user_id,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents,
                      count(*) AS n
                    FROM events GROUP BY 1)
              SELECT u.user_id, u.cents, u.n FROM u
              WHERE NOT EXISTS (SELECT 1 FROM u v
                WHERE v.cents >= u.cents AND v.n >= u.n
                  AND (v.cents > u.cents OR v.n > u.n))"""),

    // exact audience-overlap matrix between event types (audience =
    // users with ≥15 events of the type): the self-join runs on the
    // thresholded audience relation, not the fact table.
    Q("agg_audience_overlap",
      (s, d) => EventAnalytics.audienceOverlap(ev(s, d),
        col("event_type"), col("user_id"), minEvents = 15),
      s"""WITH tu AS (SELECT event_type, user_id FROM events
                    GROUP BY 1, 2 HAVING count(*) >= 15),
              n AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1)
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_both,
                CAST(any_value(na.n) AS BIGINT) AS n_a,
                CAST(any_value(nb.n) AS BIGINT) AS n_b,
                ${Portable.r6Sql("count(*) / (any_value(na.n) + any_value(nb.n) - count(*))")} AS jaccard
              FROM tu a JOIN tu b ON a.user_id = b.user_id
                AND a.event_type < b.event_type
              JOIN n na ON na.event_type = a.event_type
              JOIN n nb ON nb.event_type = b.event_type
              GROUP BY 1, 2"""),

    // sketch-path twin of the overlap matrix: per-pair union audience
    // estimated by HLL, overlap by inclusion–exclusion — at 100 TB the
    // per-dim/per-pair HLL sketches merge without re-touching entities;
    // the oracle checks the estimate against the exact overlap (flag
    // true within a sketch-error tolerance on the audience sizes).
    Q("agg_hll_audience_overlap",
      (s, d) => {
        val exact = EventAnalytics.audienceOverlap(ev(s, d),
          col("event_type"), col("user_id"), minEvents = 15)
        val tu = ev(s, d).groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("__c")).filter(col("__c") >= 15)
          .select(col("event_type"), col("user_id"))
        val perType = tu.groupBy(col("event_type"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("__est"))
        val pairs = perType.select(col("event_type").as("type_a"),
            col("__est").as("est_a"))
          .crossJoin(perType.select(col("event_type").as("type_b"),
            col("__est").as("est_b")))
          .filter(col("type_a") < col("type_b"))
        val estUnion = tu.join(broadcast(pairs.select(col("type_a"),
            col("type_b"))), col("event_type") === col("type_a") ||
            col("event_type") === col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(approx_count_distinct(col("user_id"), 0.02).as("est_u"))
        exact.join(pairs, Seq("type_a", "type_b"))
          .join(estUnion, Seq("type_a", "type_b"))
          .select(col("type_a"), col("type_b"), col("n_both"),
            (abs(col("est_a") + col("est_b") - col("est_u")
              - col("n_both")) <=
              (col("n_a") + col("n_b")) * 0.15 + 3).cast("int").as("ok"))
      },
      """WITH tu AS (SELECT event_type, user_id FROM events
                    GROUP BY 1, 2 HAVING count(*) >= 15),
              n AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1)
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_both, CAST(1 AS INTEGER) AS ok
              FROM tu a JOIN tu b ON a.user_id = b.user_id
                AND a.event_type < b.event_type
              GROUP BY 1, 2"""),

    // Model-calibration reliability bins: a portable-hash pseudo-score
    // in [0,1) (md5-derived, bit-identical on both engines) deciled
    // against the binary label; mean score and mean label per bin from
    // exact integer sums. The eval-side twin of f_target_encode.
    Q("agg_calibration_bins",
      (s, d) => {
        val t = hashedLabels(s, d)
        t.groupBy(expr("(h * 10) div 16777216").cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
            r6(sum(col("lab")) * lit(1.0) / count(lit(1)))
              .as("mean_label"),
            r6(sum(col("h")) / lit(16777216.0) / count(lit(1)))
              .as("mean_score"))
      },
      s"""WITH $hashedLabelsSql
              SELECT CAST((h * 10) // 16777216 AS BIGINT) AS bin,
                count(*) AS n,
                ${Portable.r6Sql("CAST(sum(lab) AS BIGINT) * 1.0 / count(*)")}
                  AS mean_label,
                ${Portable.r6Sql("CAST(sum(h) AS BIGINT) / 16777216.0 / count(*)")}
                  AS mean_score
              FROM t GROUP BY 1"""),

    // Last-touch attribution: each purchase credits the user's latest
    // STRICTLY-PRECEDING click/view within 7 days, else 'none'. The
    // carried touch is a running last-non-null over the user-ordered
    // stream (user-partitioned window, never global), so one pass
    // attributes every conversion.
    Q("agg_attribution_last_touch",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ev(s, d)
          .withColumn("__lt",
            last(when(col("event_type").isin("click", "view"),
              struct(col("ts").as("t"), col("event_type").as("ty"))),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(
            when(col("__lt").isNull, lit("none"))
              .when(col("__lt.t") >= col("ts") - expr("INTERVAL 7 DAY"),
                col("__lt.ty"))
              .otherwise(lit("none")).as("attributed"))
          .groupBy(col("attributed")).agg(count(lit(1)).as("n"))
      },
      """WITH o AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
                  last_value(CASE WHEN event_type IN ('click', 'view')
                      THEN struct_pack(t := CAST(ts AS TIMESTAMP),
                        ty := event_type) END IGNORE NULLS)
                    OVER (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS lt
                FROM events)
              SELECT CASE WHEN lt IS NULL THEN 'none'
                  WHEN lt.t >= t - INTERVAL 7 DAY THEN lt.ty
                  ELSE 'none' END AS attributed,
                count(*) AS n
              FROM o WHERE event_type = 'purchase' GROUP BY 1"""),

    // Laplace-noise release plumbing for aggregate publication:
    // sensitivity-1 counts noised with scale b = 2 (ε = 0.5) via the
    // inverse-CDF transform. The uniform draw here is KEYED md5 (so the
    // harness can verify the pipeline bit-for-bit) — deterministic
    // noise is NOT differential privacy; a deployment swaps u for a
    // secure RNG and every other line stays. The shape is the point:
    // noise is added per released CELL after aggregation, never per
    // row, so the cost is aggregate-sized at any data scale.
    Q("agg_dp_noised_counts",
      (s, d) => {
        val c = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        // 13 hex chars = 52 bits → u ∈ [0, 1) at double precision
        val u = graft.functions.PortableHash.md5Long(
          concat(col("event_type"), lit("|"), col("day").cast("string")),
          13) / lit(4503599627370496.0)
        c.withColumn("__u", u)
          .select(col("event_type"), col("day"), col("n"),
            r6(col("n") +
              when(col("__u") >= 0.5,
                lit(-2.0) * log(lit(2.0) * (lit(1.0) - col("__u"))))
                .otherwise(lit(2.0) * log(lit(2.0) * col("__u"))))
              .as("noised"))
      },
      s"""WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              u AS (SELECT event_type, day, n,
                  CAST(concat('0x', substr(md5(concat(event_type, '|',
                      CAST(day AS VARCHAR))), 1, 13)) AS BIGINT)
                    / 4503599627370496.0 AS u01
                FROM c)
              SELECT event_type, day, n,
                ${Portable.r6Sql("n + CASE WHEN u01 >= 0.5 THEN -2.0 * ln(2.0 * (1.0 - u01)) ELSE 2.0 * ln(2.0 * u01) END")} AS noised
              FROM u"""),

    // Welch's unequal-variance t-test between the md5-keyed A/B arms of
    // agg_ab_lift, on purchase value: t = (mA−mB)/√(vA/nA + vB/nB),
    // Welch–Satterthwaite df. One keyed aggregate then a 1-row
    // conditional pivot — the experiment-readout query every A/B
    // platform runs. df is O(n) so it gets the coarser round.
    Q("agg_welch_ttest",
      (s, d) => {
        val variant = when(pmod(graft.functions.PortableHash
          .md5Long(col("user_id").cast("string"), 15), lit(2)) === 0, "A")
          .otherwise("B")
        val g = ev(s, d).filter(col("event_type") === "purchase")
          .groupBy(variant.as("variant"))
          .agg(count(lit(1)).cast("double").as("n"),
            avg(col("value")).as("m"), var_samp(col("value")).as("v"))
        val a = (c: String) => min(when(col("variant") === "A", col(c)))
        val b = (c: String) => min(when(col("variant") === "B", col(c)))
        val se2 = a("v") / a("n") + b("v") / b("n")
        g.agg(
          a("n").cast("long").as("n_a"), b("n").cast("long").as("n_b"),
          r6((a("m") - b("m")) / sqrt(se2)).as("t_stat"),
          round(pow(se2, 2) /
            (pow(a("v") / a("n"), 2) / (a("n") - 1) +
             pow(b("v") / b("n"), 2) / (b("n") - 1)), 2).as("df"))
      },
      s"""WITH g AS (SELECT
                  CASE WHEN CAST(concat('0x',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
                  CAST(count(*) AS DOUBLE) AS n, avg(value) AS m,
                  var_samp(value) AS v
                FROM events WHERE event_type = 'purchase' GROUP BY 1)
              SELECT
                CAST(min(CASE WHEN variant = 'A' THEN n END) AS BIGINT)
                  AS n_a,
                CAST(min(CASE WHEN variant = 'B' THEN n END) AS BIGINT)
                  AS n_b,
                ${Portable.r6Sql(
                  "(min(CASE WHEN variant = 'A' THEN m END) - min(CASE WHEN variant = 'B' THEN " +
                    "m END)) / sqrt(min(CASE WHEN variant = 'A' THEN v END) / min(CASE WHEN " +
                    "variant = 'A' THEN n END) + min(CASE WHEN variant = 'B' THEN v END) / " +
                    "min(CASE WHEN variant = 'B' THEN n END))")}
                  AS t_stat,
                round(pow(min(CASE WHEN variant = 'A' THEN v END) /
                            min(CASE WHEN variant = 'A' THEN n END) +
                          min(CASE WHEN variant = 'B' THEN v END) /
                            min(CASE WHEN variant = 'B' THEN n END), 2) /
                  (pow(min(CASE WHEN variant = 'A' THEN v END) /
                       min(CASE WHEN variant = 'A' THEN n END), 2) /
                     (min(CASE WHEN variant = 'A' THEN n END) - 1) +
                   pow(min(CASE WHEN variant = 'B' THEN v END) /
                       min(CASE WHEN variant = 'B' THEN n END), 2) /
                     (min(CASE WHEN variant = 'B' THEN n END) - 1)), 2)
                  AS df
              FROM g"""),

    // Pearson chi-square test of independence, event_type × day-of-week:
    // observed cell counts vs e = row_tot·col_tot/N, χ² = Σ(o−e)²/e.
    // Exact integer counts until the one division; the margins come from
    // window sums over the CELL table (|types|·7 rows), not a rescan.
    Q("agg_chi2_independence",
      (s, d) => {
        val cells = typeDowCells(s, d)
        val rowT = sum(col("o")).over(Window.partitionBy(col("event_type")))
        val colT = sum(col("o")).over(Window.partitionBy(col("dow")))
        val n = sum(col("o")).over(Window.partitionBy())
        cells.select(col("event_type"), col("dow"), col("o"),
            (rowT * colT / n).as("e"))
          .agg(r6(sum(pow(col("o") - col("e"), 2) / col("e")))
              .as("chi2"),
            ((countDistinct(col("event_type")) - 1) *
             (countDistinct(col("dow")) - 1)).as("dof"))
      },
      s"""WITH $typeDowCellsSql,
              e AS (SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) *
                  sum(o) OVER (PARTITION BY dow) /
                  sum(o) OVER () AS e
                FROM cells)
              SELECT ${Portable.r6Sql("sum(pow(o - e, 2) / e)")} AS chi2,
                (count(DISTINCT event_type) - 1) *
                (count(DISTINCT dow) - 1) AS dof
              FROM e"""),

    // Stationary distribution of the event-type Markov chain
    // (agg_transition_matrix's P) by repeated squaring: P¹⁶ = ((P²)²)²²,
    // then π = uniform·P¹⁶ renormalized. Four broadcast self-joins over
    // a |types|² matrix — fully declarative, nothing iterates on the
    // driver, and at 100 TB the only big job is the ONE pass that
    // builds P; the squarings are dim-sized.
    Q("agg_markov_stationary",
      (s, d) => {
        val w = Window.partitionBy(col("cur"))
        val p = ev(s, d)
          .withColumn("nxt", lead(col("event_type"), 1)
            .over(Window.partitionBy(col("user_id")).orderBy(evOrder: _*)))
          .filter(col("nxt").isNotNull)
          .groupBy(col("event_type").as("cur"), col("nxt"))
          .agg(count(lit(1)).cast("double").as("c"))
          .select(col("cur"), col("nxt"),
            (col("c") / sum(col("c")).over(w)).as("pr"))
          // lineage cut: the nested squarings below reference their
          // input twice each, so without it the plan carries 2⁴ = 16
          // copies of the corpus pass (same lesson as
          // agg_attribution_markov); after the cut they reference a
          // |types|²-row leaf
          .localCheckpoint()
        def square(m: DataFrame): DataFrame = {
          val a = m.select(col("cur").as("i"), col("nxt").as("k"),
            col("pr").as("pa"))
          val b = m.select(col("cur").as("k"), col("nxt").as("j"),
            col("pr").as("pb"))
          a.join(broadcast(b), "k")
            .groupBy(col("i").as("cur"), col("j").as("nxt"))
            .agg(sum(col("pa") * col("pb")).as("pr"))
        }
        val p16 = square(square(square(square(p))))
        val states = p.select(col("cur")).distinct()
          .agg(count(lit(1)).cast("double").as("k"))
        val pi = p16.crossJoin(broadcast(states))
          .groupBy(col("nxt").as("event_type"))
          .agg(sum(col("pr") / col("k")).as("raw"))
        pi.crossJoin(broadcast(
            pi.agg(sum(col("raw")).as("tot"))))
          .select(col("event_type"),
            r6(col("raw") / col("tot")).as("pi"))
      },
      s"""WITH seq AS (SELECT user_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                FROM events),
              p AS (SELECT event_type AS cur, nxt,
                  count(*) * 1.0 /
                    sum(count(*)) OVER (PARTITION BY event_type) AS pr
                FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
              p2 AS (SELECT a.cur, b.nxt, sum(a.pr * b.pr) AS pr
                FROM p a JOIN p b ON a.nxt = b.cur GROUP BY 1, 2),
              p4 AS (SELECT a.cur, b.nxt, sum(a.pr * b.pr) AS pr
                FROM p2 a JOIN p2 b ON a.nxt = b.cur GROUP BY 1, 2),
              p8 AS (SELECT a.cur, b.nxt, sum(a.pr * b.pr) AS pr
                FROM p4 a JOIN p4 b ON a.nxt = b.cur GROUP BY 1, 2),
              p16 AS (SELECT a.cur, b.nxt, sum(a.pr * b.pr) AS pr
                FROM p8 a JOIN p8 b ON a.nxt = b.cur GROUP BY 1, 2),
              k AS (SELECT CAST(count(DISTINCT cur) AS DOUBLE) AS k
                FROM p),
              raw AS (SELECT nxt AS event_type,
                  sum(pr / (SELECT k FROM k)) AS raw
                FROM p16 GROUP BY 1)
              SELECT event_type,
                ${Portable.r6Sql("raw / (SELECT sum(raw) FROM raw)")} AS pi
              FROM raw"""),

    // Lorenz-curve deciles of customer revenue — the inequality readout
    // behind agg_gini: decile by per-customer revenue (unique-keyed
    // tiebreak), cumulative revenue share per decile. The decile comes
    // from ScalableRank.globalNtile (r19): the customer dim GROWS with
    // data (1.5k→15k per SF step here, billions at 100 TB), so the old
    // ntile(10) over an unpartitioned window was a one-reducer funnel;
    // the bucketed form numbers rows inside revenue-range buckets
    // (floor(rev/4096) — value-domain-bounded, monotone in the
    // ordering) and applies the identical SQL split formula. The
    // 10-row decile windows below are dim-sized and stay.
    Q("agg_lorenz_deciles",
      (s, d) => {
        // persisted: globalNtile consumes its input twice (bucket
        // offsets + numbering join) — uncached, each consumer re-runs
        // the corpus-sized orders aggregate. Customer-dim-sized rows;
        // open-ended: clearCache() does NOT free localCheckpoint
        // blocks — the ContextCleaner frees them once the driver GCs
        // the checkpointed RDD.
        val rev = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice")).as("rev"))
          .localCheckpoint(false)
        val dec = ScalableRank.globalNtile(rev,
          floor(col("rev") / lit(4096.0)),
          Seq(col("rev"), col("o_custkey")), 10, "decile")
        val byDec = dec.groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("r"))
        byDec
          .crossJoin(broadcast(byDec.agg(sum(col("r")).as("tot"))))
          .select(col("decile"), col("n_customers"),
            r6(col("r") / col("tot")).as("rev_share"),
            r6(sum(col("r")).over(Window.orderBy(col("decile"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
              / col("tot")).as("cum_share"))
      },
      s"""WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
                FROM orders GROUP BY 1),
              dec AS (SELECT o_custkey, rev,
                  CAST(ntile(10) OVER (ORDER BY rev, o_custkey)
                    AS INTEGER) AS decile
                FROM rev),
              bydec AS (SELECT decile, count(*) AS n_customers,
                  sum(rev) AS r
                FROM dec GROUP BY 1),
              tot AS (SELECT sum(r) AS tot FROM bydec)
              SELECT decile, n_customers,
                ${Portable.r6Sql("r / (SELECT tot FROM tot)")} AS rev_share,
                ${Portable.r6Sql("sum(r) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / (SELECT tot FROM tot)")} AS cum_share
              FROM bydec"""),

    // Zipf-law fit over the corpus vocabulary: log-log OLS of frequency
    // vs rank for the top-200 tokens (closed-form regr_* aggregates —
    // one pass over ≤200 points). The corpus-health diagnostic: a
    // natural corpus has slope ≈ −1; synthetic/templated text (like
    // this testdata: slope ≈ −0.18) shows up immediately. The rank
    // window is vocab-sized, not corpus-sized.
    Q("agg_zipf_fit",
      (s, d) => {
        val freq = Par.widen(Tables.documents(s, d))
          .select(explode(Dedup.tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        // top-200 via orderBy+limit (TakeOrderedAndProject: per-
        // partition top-k + a 200-row driver merge — r18), THEN rank
        // the 200 survivors; the old full-vocab row_number funneled
        // every distinct token through one WindowExec partition
        val ranked = freq.orderBy(col("c").desc, col("tok")).limit(200)
          .withColumn("r",
            row_number().over(Window.orderBy(col("c").desc, col("tok"))))
        ranked
          .select(log(col("r").cast("double")).as("x"),
            log(col("c").cast("double")).as("y"))
          .agg(r6(regr_slope(col("y"), col("x"))).as("zipf_slope"),
            r6(regr_intercept(col("y"), col("x"))).as("log_c0"),
            r6(regr_r2(col("y"), col("x"))).as("r2"),
            count(lit(1)).as("n_points"))
      },
      raw"""WITH toks AS (SELECT unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              freq AS (SELECT tok, count(*) AS c FROM toks
                WHERE tok <> '' GROUP BY 1),
              ranked AS (SELECT tok, c, row_number()
                  OVER (ORDER BY c DESC, tok) AS r FROM freq),
              top AS (SELECT ln(r) AS x, ln(c) AS y FROM ranked
                WHERE r <= 200)
              SELECT ${Portable.r6Sql("regr_slope(y, x)")} AS zipf_slope,
                ${Portable.r6Sql("regr_intercept(y, x)")} AS log_c0,
                ${Portable.r6Sql("regr_r2(y, x)")} AS r2,
                CAST(count(*) AS BIGINT) AS n_points
              FROM top"""),

    // Bootstrap confidence interval for the mean, from B = 32
    // replicate-keyed Poisson(1) resamples (Sampling.poissonK on
    // (event_id, b)): each replicate's weighted mean, then the exact
    // 2nd-smallest / 2nd-largest replicate mean as the ~94% interval —
    // rank-based, no quantile interpolation to disagree across engines.
    // The B× fanout collapses in the partial aggregate (map-side
    // combine), so the shuffle carries 32 rows per partition, not 32×
    // the data.
    Q("agg_bootstrap_ci",
      (s, d) => {
        val reps = ev(s, d).select(col("event_id"), col("value"))
          .select(col("event_id"), col("value"),
            explode(sequence(lit(0), lit(31))).as("b"))
          .withColumn("k", Sampling.poissonK(
            concat_ws(":", col("event_id"), col("b"))))
        // m carried in exact micro units: Σ k·vm is an exact long on
        // both engines (fuzz-hardened — the raw weighted double sum
        // flips at .5e-6 boundaries), ONE division per replicate
        val means = reps.groupBy(col("b"))
          .agg((sum(col("k") * floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / sum(col("k"))).as("m"))
        val ranked = means
          .withColumn("ra", row_number().over(
            Window.orderBy(col("m"), col("b"))))
          .withColumn("rd", row_number().over(
            Window.orderBy(col("m").desc, col("b").desc)))
        val base = ev(s, d).agg(count(lit(1)).as("n_events"),
          (floor(sum(floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / count(lit(1)) + lit(0.5)) / lit(1e6))
            .as("point_mean"))
        ranked.agg(
            (floor(min(when(col("ra") === 2, col("m"))) + lit(0.5)) /
              lit(1e6)).as("ci_lo"),
            (floor(min(when(col("rd") === 2, col("m"))) + lit(0.5)) /
              lit(1e6)).as("ci_hi"))
          .crossJoin(broadcast(base))
          .select(col("n_events"), col("point_mean"), col("ci_lo"),
            col("ci_hi"))
      },
      """WITH reps AS (SELECT e.event_id, e.value, b.b,
                  CAST(concat('0x', substr(md5(concat(
                      CAST(e.event_id AS VARCHAR), ':',
                      CAST(b.b AS VARCHAR))), 1, 15)) AS BIGINT) % 1000
                    AS u
                FROM events e CROSS JOIN
                  (SELECT unnest(range(0, 32)) AS b) b),
              k AS (SELECT b, value,
                  CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                    WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
                    ELSE 4 END AS k
                FROM reps),
              m AS (SELECT b,
                  CAST(sum(k * CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / sum(k) AS m FROM k
                GROUP BY 1),
              r AS (SELECT m,
                  row_number() OVER (ORDER BY m, b) AS ra,
                  row_number() OVER (ORDER BY m DESC, b DESC) AS rd
                FROM m),
              base AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
                  floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                      AS DOUBLE) / count(*) + 0.5) / 1e6 AS point_mean
                FROM events)
              SELECT (SELECT n_events FROM base) AS n_events,
                (SELECT point_mean FROM base) AS point_mean,
                floor(min(CASE WHEN ra = 2 THEN m END) + 0.5) / 1e6
                  AS ci_lo,
                floor(min(CASE WHEN rd = 2 THEN m END) + 0.5) / 1e6
                  AS ci_hi
              FROM r"""),

    // Grouped log-log regression — price elasticity of demand per
    // segment (the reference's domain is energy pricing; elasticity is
    // THE pricing readout): slope of ln(quantity) on ln(unit price),
    // closed-form regr_* aggregates per group. Distinct relational
    // shape from ml_linreg (global fit): one keyed aggregate, no
    // iteration, any group count.
    Q("agg_price_elasticity",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          log(col("l_quantity")).as("lq"),
          log(col("l_extendedprice") / col("l_quantity")).as("lp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          r6(regr_slope(col("lq"), col("lp"))).as("elasticity"),
          r6(regr_intercept(col("lq"), col("lp"))).as("intercept"),
          r6(regr_r2(col("lq"), col("lp"))).as("r2")),
      s"""SELECT l_returnflag, count(*) AS n,
                ${Portable.r6Sql("regr_slope(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS elasticity,
                ${Portable.r6Sql("regr_intercept(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS intercept,
                ${Portable.r6Sql("regr_r2(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS r2
              FROM lineitem GROUP BY 1"""),

    // Single change-point detection per series: the day t maximizing
    // |S_t·T − t·S_T| (integer CUSUM deviation of the prefix sum from
    // the uniform ramp — the classic binary-segmentation score). All
    // integers until the final normalized output, argmax tie-broken to
    // the earliest day.
    Q("agg_changepoint",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
        val wo = w.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scored = dailyCents(s, d)
          .withColumn("t", row_number().over(w.orderBy(col("day"))))
          .withColumn("s_t", sum(col("s")).over(wo))
          .withColumn("s_tot", sum(col("s")).over(w))
          .withColumn("bigt", count(lit(1)).over(w))
          .withColumn("dev",
            abs(col("s_t") * col("bigt") - col("t") * col("s_tot")))
        scored
          .withColumn("rk", row_number().over(
            w.orderBy(col("dev").desc, col("day"))))
          .filter(col("rk") === 1)
          .select(col("event_type"), col("day").as("change_day"),
            col("dev").as("max_dev"),
            r6(col("dev").cast("double") /
              (col("bigt").cast("double") * col("s_tot")))
              .as("dev_norm"))
      },
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s
                FROM events GROUP BY 1, 2),
              scored AS (SELECT event_type, day,
                  row_number() OVER w AS t,
                  sum(s) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS s_t,
                  sum(s) OVER (PARTITION BY event_type) AS s_tot,
                  count(*) OVER (PARTITION BY event_type) AS bigt
                FROM daily
                WINDOW w AS (PARTITION BY event_type ORDER BY day)),
              dev AS (SELECT event_type, day,
                  abs(s_t * bigt - t * s_tot) AS dev, bigt, s_tot
                FROM scored),
              r AS (SELECT event_type, day, dev, bigt, s_tot,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY dev DESC, day) AS rk
                FROM dev)
              SELECT event_type, day AS change_day,
                CAST(dev AS BIGINT) AS max_dev,
                ${Portable.r6Sql("CAST(dev AS DOUBLE) / (CAST(bigt AS DOUBLE) * s_tot)")} AS dev_norm
              FROM r WHERE rk = 1"""),

    // Cramér's V — the effect size chi2 alone doesn't give (χ² grows
    // with N even for a fixed association): V = √(χ²/(N·min(r−1,c−1)))
    // over the same event_type × day-of-week table as
    // agg_chi2_independence.
    Q("agg_cramers_v",
      (s, d) => {
        val cells = typeDowCells(s, d)
        val rowT = sum(col("o")).over(Window.partitionBy(col("event_type")))
        val colT = sum(col("o")).over(Window.partitionBy(col("dow")))
        val n = sum(col("o")).over(Window.partitionBy())
        cells.select(col("event_type"), col("dow"), col("o"),
            (rowT * colT / n).as("e"), n.as("bign"))
          .agg(r6(sqrt(
              sum(pow(col("o") - col("e"), 2) / col("e")) /
              (min(col("bign")) *
                least(countDistinct(col("event_type")) - 1,
                  countDistinct(col("dow")) - 1)))).as("v"),
            min(col("bign")).cast("long").as("n"))
      },
      s"""WITH $typeDowCellsSql,
              e AS (SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) *
                  sum(o) OVER (PARTITION BY dow) /
                  sum(o) OVER () AS e,
                  sum(o) OVER () AS bign
                FROM cells)
              SELECT ${Portable.r6Sql("sqrt( sum(pow(o - e, 2) / e) / (min(bign) * least(count(DISTINCT event_type) - 1, count(DISTINCT dow) - 1)))")} AS v,
                CAST(min(bign) AS BIGINT) AS n
              FROM e"""),

    // Markov removal-effect attribution — the data-driven alternative
    // to last-touch (agg_attribution_last_touch): model user journeys
    // as an absorbing Markov chain (__start → channels → __conv), and
    // credit each channel by how much conversion probability DISAPPEARS
    // when it is removed. All removal variants ride ONE keyed matrix
    // (rm, i, j, pr) — the 6 squarings that push M to M⁶⁴ (absorption
    // horizon) are joins on (rm, k) over a ≤|variants|·|states|² table,
    // so adding a channel adds rows, not jobs. The only corpus-sized
    // work is the journey pass that counts transitions; each squaring
    // level is persisted so the doubly-self-referencing plan stays
    // linear, not 2⁶ copies of the scan.
    Q("agg_attribution_markov",
      (s, d) => {
        val spark = s; import spark.implicits._
        val uw = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
        val seq0 = ev(s, d).select(col("user_id"), col("event_type"),
          row_number().over(uw).as("rn"))
        val firstp = seq0.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
        val trunc = seq0.join(firstp, Seq("user_id"), "left")
          .filter(col("prn").isNull || col("rn") <= col("prn"))
          .select(col("user_id"), col("rn"),
            when(col("event_type") === "purchase", "__conv")
              .otherwise(col("event_type")).as("st"))
        val aug = trunc.select(col("user_id")).distinct()
          .select(col("user_id"), lit(0).as("rn"), lit("__start").as("st"))
          .unionByName(trunc)
        val edges = aug
          .withColumn("j", lead(col("st"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("rn"))))
          .filter(col("j").isNotNull)
          .groupBy(col("st").as("i"), col("j")).agg(count(lit(1)).as("c"))
        val p = persist(edges
          .select(col("i"), col("j"), (col("c") * lit(1.0) /
            sum(col("c")).over(Window.partitionBy(col("i")))).as("pr"))
          .unionByName(Seq(("__conv", "__conv", 1.0)).toDF("i", "j", "pr")))
        // channels = every state seen on either side (a terminal-only
        // channel has no outgoing row but is still removable)
        val vars = p.select(col("i").as("rm"))
          .unionByName(p.select(col("j").as("rm"))).distinct()
          .filter(!col("rm").isin("__start", "__conv"))
          .unionByName(Seq("none").toDF("rm"))
        // each squaring references the previous level TWICE — without a
        // lineage cut the logical plan doubles per level (2⁶ copies of
        // the corpus pass; OOMs the analyzer). localCheckpoint
        // materializes the dim-sized matrix and truncates the plan, so
        // every level starts from a ≤|variants|·|states|² leaf.
        var m = p.crossJoin(broadcast(vars))
          .filter(col("i") =!= col("rm") && col("j") =!= col("rm"))
          .localCheckpoint()
        for (it <- 1 to 6) {
          val a = m.select(col("rm"), col("i"), col("j").as("k"),
            col("pr").as("pa"))
          val b = m.select(col("rm"), col("i").as("k"), col("j"),
            col("pr").as("pb"))
          val sq = a.join(b, Seq("rm", "k"))
            .groupBy(col("rm"), col("i"), col("j"))
            .agg(sum(col("pa") * col("pb")).as("pr"))
          // cut every OTHER level: one uncut level between cuts means
          // the next plan holds 2 copies of a dim-sized checkpoint
          // leaf (fine); cutting all 6 pays 3 extra scheduling rounds
          m = if (it % 2 == 0) sq.localCheckpoint() else sq
        }
        // the matrix is SPARSE: a variant whose conversion probability
        // is exactly 0 has no (start, conv) row at all — left-join the
        // variant list and read the hole as 0
        val pc = vars.join(
            m.filter(col("i") === "__start" && col("j") === "__conv")
              .select(col("rm"), col("pr")),
            Seq("rm"), "left")
          .select(col("rm"), coalesce(col("pr"), lit(0.0)).as("pr"))
          .localCheckpoint()
        val basep = pc.filter(col("rm") === "none")
          .select(col("pr").as("p0"))
        pc.filter(col("rm") =!= "none").crossJoin(broadcast(basep))
          .select(col("rm").as("channel"),
            r6(col("pr")).as("p_conv_without"),
            r6((col("p0") - col("pr")) / col("p0"))
              .as("removal_effect"))
      },
      s"""WITH seq AS (SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
                FROM events),
              firstp AS (SELECT user_id, min(rn) AS prn FROM seq
                WHERE event_type = 'purchase' GROUP BY 1),
              trunc AS (SELECT s.user_id, s.rn,
                  CASE WHEN s.event_type = 'purchase' THEN '__conv'
                    ELSE s.event_type END AS st
                FROM seq s LEFT JOIN firstp f USING (user_id)
                WHERE f.prn IS NULL OR s.rn <= f.prn),
              aug AS (SELECT user_id, 0 AS rn, '__start' AS st
                FROM (SELECT DISTINCT user_id FROM trunc)
                UNION ALL SELECT user_id, rn, st FROM trunc),
              edges AS (SELECT i, j, count(*) AS c FROM (
                  SELECT st AS i, lead(st) OVER (PARTITION BY user_id
                    ORDER BY rn) AS j FROM aug)
                WHERE j IS NOT NULL GROUP BY 1, 2),
              p AS MATERIALIZED (SELECT i, j,
                  c * 1.0 / sum(c) OVER (PARTITION BY i) AS pr FROM edges
                UNION ALL SELECT '__conv', '__conv', 1.0),
              vars AS (SELECT 'none' AS rm UNION ALL
                SELECT DISTINCT ch FROM
                  (SELECT i AS ch FROM p UNION SELECT j AS ch FROM p)
                WHERE ch NOT IN ('__start', '__conv')),
              m0 AS MATERIALIZED (SELECT v.rm, p.i, p.j, p.pr
                FROM p CROSS JOIN vars v
                WHERE p.i <> v.rm AND p.j <> v.rm),
              m1 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m0 a JOIN m0 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              m2 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m1 a JOIN m1 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              m3 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m2 a JOIN m2 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              m4 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m3 a JOIN m3 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              m5 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m4 a JOIN m4 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              m6 AS MATERIALIZED (SELECT a.rm, a.i, b.j,
                  sum(a.pr * b.pr) AS pr FROM m5 a JOIN m5 b
                  ON a.rm = b.rm AND a.j = b.i GROUP BY 1, 2, 3),
              pc AS (SELECT v.rm, COALESCE(s.pr, 0) AS pr
                FROM vars v LEFT JOIN
                  (SELECT rm, pr FROM m6
                   WHERE i = '__start' AND j = '__conv') s
                  ON s.rm = v.rm),
              basep AS (SELECT pr FROM pc WHERE rm = 'none')
              SELECT rm AS channel, ${Portable.r6Sql("pr")} AS p_conv_without,
                ${Portable.r6Sql("((SELECT pr FROM basep) - pr) / (SELECT pr FROM basep)")} AS removal_effect
              FROM pc WHERE rm <> 'none'"""),

    // Causal-impact-lite: linear counterfactual per series. Fit
    // y = a + b·t on the PRE-intervention days (closed-form regr_*),
    // extrapolate over the post period, report cumulative actual −
    // predicted lift. The pre/post split day is a parameter (here the
    // corpus midpoint). The honest small sibling of the full
    // state-space CausalImpact: same readout, linear trend instead of
    // a Bayesian structural model.
    Q("agg_causal_impact",
      (s, d) => {
        val daily = dailyCents(s, d)
          .withColumn("t", datediff(col("day"), lit("2024-01-01"))
            .cast("double"))
        val split = lit("2024-01-16")
        val fit = daily.filter(col("day") < split)
          .groupBy(col("event_type"))
          .agg(regr_slope(col("s").cast("double"), col("t")).as("b"),
            regr_intercept(col("s").cast("double"), col("t")).as("a"))
        daily.filter(col("day") >= split)
          .join(fit, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_post_days"),
            sum(col("s")).as("actual_cents"),
            round(sum(col("a") + col("b") * col("t")), 2)
              .as("pred_cents"),
            r6((sum(col("s")) - sum(col("a") + col("b") * col("t"))) /
              sum(col("a") + col("b") * col("t"))).as("rel_lift"))
      },
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s
                FROM events GROUP BY 1, 2),
              dt AS (SELECT event_type, day, s,
                  CAST(datediff('day', DATE '2024-01-01', day) AS DOUBLE)
                    AS t
                FROM daily),
              fit AS (SELECT event_type,
                  regr_slope(CAST(s AS DOUBLE), t) AS b,
                  regr_intercept(CAST(s AS DOUBLE), t) AS a
                FROM dt WHERE day < DATE '2024-01-16' GROUP BY 1)
              SELECT d.event_type, count(*) AS n_post_days,
                CAST(sum(d.s) AS BIGINT) AS actual_cents,
                round(sum(f.a + f.b * d.t), 2) AS pred_cents,
                ${Portable.r6Sql("(sum(d.s) - sum(f.a + f.b * d.t)) / sum(f.a + f.b * d.t)")} AS rel_lift
              FROM dt d JOIN fit f USING (event_type)
              WHERE d.day >= DATE '2024-01-16' GROUP BY 1"""),

    // RFM segmentation — the classic customer scoring: recency (days
    // since last purchase), frequency (purchase count), monetary
    // (Σcents), each cut into quintiles (unique-keyed ntile ties), the
    // three digits concatenated into the segment code. The per-user
    // aggregate is the only corpus-sized pass. The quintiles come from
    // ScalableRank.globalNtile partitioned by metric: the user dim grows
    // with data (row-scale at 100 TB), so an ntile(5) window over it
    // would be a one-reducer funnel. Bands: the day grid for recency,
    // the negated count for f DESC, the negated 4096-cent band for m.
    Q("agg_rfm_segments",
      (s, d) => {
        val maxDay = ev(s, d).agg(max(to_date(col("ts"))).as("d0"))
        val per = ev(s, d).filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(to_date(col("ts"))).as("last_day"),
            count(lit(1)).as("f"),
            sum(round(col("value") * 100, 0).cast("long")).as("m"))
          .crossJoin(broadcast(maxDay))
          .select(col("user_id"),
            datediff(col("d0"), col("last_day")).as("recency_days"),
            col("f"), col("m"))
          // checkpointed: the bucket-offset numbering consumes this
          // twice (offsets + numbering join) — uncached, each consumer
          // re-runs the corpus-sized purchase aggregate. User-dim rows.
          .localCheckpoint(false)
        // unpivot (metric, value) so one numbering pass and one
        // pivot-back serve r/f/m together; v is ASC-uniform (negated for
        // the DESC metrics), the band value-domain-bounded per metric
        val unp = per.select(col("user_id"), col("recency_days"),
            col("f"), col("m"),
            explode(array(
              struct(lit(1).as("met"),
                col("recency_days").cast("long").as("v")),
              struct(lit(2).as("met"), (-col("f")).as("v")),
              struct(lit(3).as("met"), (-col("m")).as("v"))))
              .as("x"))
          .select(col("user_id"), col("recency_days"), col("f"), col("m"),
            col("x.met").as("met"), col("x.v").as("v"))
        val band = when(col("met") === 3, expr("v div 4096"))
          .otherwise(col("v"))
        val tiled = ScalableRank.globalNtile(unp, band,
          Seq(col("v"), col("user_id")), 5, "__t",
          partitionBy = Seq(col("met")))
        tiled.groupBy(col("user_id"), col("recency_days"),
            col("f"), col("m"))
          .agg(max(when(col("met") === 1, col("__t"))).as("r_q"),
            max(when(col("met") === 2, col("__t"))).as("f_q"),
            max(when(col("met") === 3, col("__t"))).as("m_q"))
          .withColumn("segment", concat_ws("-",
            col("r_q"), col("f_q"), col("m_q")))
      },
      """WITH per AS (SELECT user_id,
                  max(CAST(ts AS DATE)) AS last_day,
                  count(*) AS f,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS m
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
              d0 AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
              r AS (SELECT user_id,
                  datediff('day', last_day, (SELECT d0 FROM d0))
                    AS recency_days, f, m
                FROM per)
              SELECT user_id, CAST(recency_days AS INTEGER)
                  AS recency_days, f, m,
                CAST(ntile(5) OVER (ORDER BY recency_days, user_id)
                  AS INTEGER) AS r_q,
                CAST(ntile(5) OVER (ORDER BY f DESC, user_id)
                  AS INTEGER) AS f_q,
                CAST(ntile(5) OVER (ORDER BY m DESC, user_id)
                  AS INTEGER) AS m_q,
                concat(CAST(ntile(5) OVER (ORDER BY recency_days, user_id)
                    AS VARCHAR), '-',
                  CAST(ntile(5) OVER (ORDER BY f DESC, user_id)
                    AS VARCHAR), '-',
                  CAST(ntile(5) OVER (ORDER BY m DESC, user_id)
                    AS VARCHAR)) AS segment
              FROM r"""),

    // Herfindahl–Hirschman concentration index per day: Σ share² over
    // event types — the market-concentration readout (how dominated is
    // the day's traffic by one type). Exact counts; the share division
    // and square are the only doubles.
    Q("agg_hhi_concentration",
      (s, d) => {
        val cells = ev(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).cast("double").as("c"))
        val tot = sum(col("c")).over(Window.partitionBy(col("day")))
        cells.select(col("day"), col("c"), tot.as("t"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_types"),
            r6(sum(pow(col("c") / col("t"), 2))).as("hhi"))
      },
      s"""WITH cells AS (SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS DOUBLE) AS c
                FROM events GROUP BY 1, 2),
              t AS (SELECT day, c,
                  sum(c) OVER (PARTITION BY day) AS t FROM cells)
              SELECT day, count(*) AS n_types,
                ${Portable.r6Sql("sum(pow(c / t, 2))")} AS hhi
              FROM t GROUP BY 1"""),

    // Spearman rank correlation per event type between two derived
    // daily series (count vs exact-cents revenue) — the monotone-
    // association readout Pearson misses. Average ranks for ties,
    // computed deterministically as rank() + (ties−1)/2 (rank/count
    // windows partitioned BY TYPE — day-sized partitions, no global
    // sort), then plain corr over the ranks.
    Q("agg_spearman",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
              .cast("double").as("cents"))
        def avgRank(x: Column): Column =
          rank().over(Window.partitionBy(col("event_type")).orderBy(x)) +
            (count(lit(1)).over(
              Window.partitionBy(col("event_type"), x)) - 1) / lit(2.0)
        daily.select(col("event_type"),
            avgRank(col("n")).as("rn"), avgRank(col("cents")).as("rv"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            r6(corr(col("rn"), col("rv"))).as("spearman"))
      },
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  count(*) AS n,
                  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS cents
                FROM events GROUP BY 1, 2),
              r AS (SELECT event_type,
                  rank() OVER (PARTITION BY event_type ORDER BY n) +
                    (count(*) OVER (PARTITION BY event_type, n) - 1) / 2.0
                    AS rn,
                  rank() OVER (PARTITION BY event_type ORDER BY cents) +
                    (count(*) OVER (PARTITION BY event_type, cents) - 1)
                      / 2.0 AS rv
                FROM daily)
              SELECT event_type, count(*) AS n_days,
                ${Portable.r6Sql("corr(rn, rv)")} AS spearman
              FROM r GROUP BY 1"""),

    // Association rules over the per-user event-type basket:
    // support / confidence / lift for every unordered type pair — the
    // market-basket readout. The self-join key is user_id (exact
    // equi-join); both per-type marginals and the user total are
    // broadcast one-row/dim-sized sides.
    Q("agg_assoc_rules",
      (s, d) => {
        val ut = ev(s, d).select(col("user_id"), col("event_type")).distinct()
        val na = ut.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        val tot = ut.agg(countDistinct(col("user_id")).as("total"))
        val a = ut.select(col("user_id"), col("event_type").as("ante"))
        val b = ut.select(col("user_id"), col("event_type").as("cons"))
        a.join(b, a("user_id") === b("user_id") && col("ante") < col("cons"))
          .groupBy(col("ante"), col("cons"))
          .agg(count(lit(1)).as("n_both"))
          .join(broadcast(na.select(col("event_type").as("ante"),
            col("cnt").as("cnt_a"))), Seq("ante"))
          .join(broadcast(na.select(col("event_type").as("cons"),
            col("cnt").as("cnt_c"))), Seq("cons"))
          .crossJoin(broadcast(tot))
          .select(col("ante"), col("cons"), col("n_both"),
            r6(col("n_both") / col("total")).as("support"),
            r6(col("n_both") / col("cnt_a")).as("confidence"),
            r6((col("n_both") / col("cnt_a")) /
              (col("cnt_c") / col("total"))).as("lift"))
      },
      s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
              n AS (SELECT count(DISTINCT user_id) AS total FROM events),
              na AS (SELECT event_type, count(*) AS cnt FROM ut GROUP BY 1),
              pairs AS (SELECT a.event_type AS ante, b.event_type AS cons,
                  count(*) AS n_both
                FROM ut a JOIN ut b ON a.user_id = b.user_id
                  AND a.event_type < b.event_type
                GROUP BY 1, 2)
              SELECT p.ante, p.cons, p.n_both,
                ${Portable.r6Sql("p.n_both * 1.0 / n.total")} AS support,
                ${Portable.r6Sql("p.n_both * 1.0 / x.cnt")} AS confidence,
                ${Portable.r6Sql("(p.n_both * 1.0 / x.cnt) / (y.cnt * 1.0 / n.total)")}
                  AS lift
              FROM pairs p JOIN na x ON x.event_type = p.ante
              JOIN na y ON y.event_type = p.cons, n"""),

    // Hour-of-day activity bitmap per user (bit_or of 1<<hour — a
    // 24-bit presence sketch, the cheapest "when is this user active"
    // fingerprint), rolled up to a popcount histogram. Both the OR and
    // the popcount are codegen'd integer ops; one shuffle on user_id,
    // one on the popcount.
    Q("agg_bitmap_presence",
      (s, d) => ev(s, d)
        .withColumn("h", ScalarFns.hourOfDay(col("ts")))
        .withColumn("bit", expr("shiftleft(CAST(1 AS BIGINT), h)"))
        .groupBy(col("user_id"))
        .agg(bit_or(col("bit")).as("mask"))
        .groupBy(expr("bit_count(mask)").as("n_active_hours"))
        .agg(count(lit(1)).as("n_users")),
      """WITH m AS (SELECT user_id,
                  bit_or(CAST(1 AS BIGINT) << hour(CAST(ts AS TIMESTAMP)))
                    AS mask
                FROM events GROUP BY 1)
              SELECT bit_count(mask) AS n_active_hours, count(*) AS n_users
              FROM m GROUP BY 1"""),

    // Trimmed mean per group: the mean of the [p10, p90] interior —
    // the robust location estimate that survives fat tails. Exact
    // interpolated percentiles (the agg_percentiles machinery) on the
    // dim-sized group table, broadcast back over the fact scan.
    Q("agg_trimmed_mean",
      (s, d) => {
        val b = ev(s, d).groupBy(col("event_type"))
          .agg(percentile(col("value"), lit(0.1)).as("lo"),
            percentile(col("value"), lit(0.9)).as("hi"))
        ev(s, d).join(broadcast(b), Seq("event_type"))
          .filter(col("value") >= col("lo") && col("value") <= col("hi"))
          .groupBy(col("event_type"))
          // micro-unit exact summation (the integer-cents convention at
          // 1e-6 grain): a raw avg(value) is a float sum whose order
          // differs across engines, and seeded fuzzing found a mean
          // landing 1 ulp apart at a .5e-6 boundary — the floor form
          // alone still flipped. Quantizing per row (single IEEE
          // multiply-add + floor, bit-identical everywhere), summing as
          // exact longs, then ONE double division makes the result
          // order-insensitive end-to-end.
          .agg(count(lit(1)).as("n_kept"),
            sum(floor(col("value") * lit(1e6) + lit(0.5))).as("s_micro"))
          .select(col("event_type"), col("n_kept"),
            (floor(col("s_micro").cast("double") / col("n_kept") +
              lit(0.5)) / lit(1e6)).as("trimmed_mean"))
      },
      """WITH b AS (SELECT event_type,
                  quantile_cont(value, 0.1) AS lo,
                  quantile_cont(value, 0.9) AS hi
                FROM events GROUP BY 1)
              SELECT event_type, n_kept,
                floor(CAST(s_micro AS DOUBLE) / n_kept + 0.5) / 1e6
                  AS trimmed_mean
              FROM (SELECT e.event_type, count(*) AS n_kept,
                      sum(CAST(floor(e.value * 1e6 + 0.5) AS BIGINT))
                        AS s_micro
                    FROM events e JOIN b ON e.event_type = b.event_type
                    WHERE e.value >= b.lo AND e.value <= b.hi
                    GROUP BY 1)"""),

    // Mann–Whitney U (rank-sum) between two samples — the
    // nonparametric A/B test the welch_ttest family can't replace when
    // the distributions are skewed. Average ranks come from the
    // grouped support + exclusive bucketed prefix sum (ar = before +
    // (ties+1)/2), so no global sort exists anywhere; the z uses the
    // standard no-tie-correction normal approximation (documented).
    Q("agg_mannwhitney_u",
      (s, d) => {
        val sdf = clickViewSample(s, d)
        val g = sdf.groupBy(col("value"))
          .agg(sum(col("i1")).as("c1"), count(lit(1)).as("ct"))
        val withBefore = ScalableRank.globalPrefixSum(g, floor(col("value")),
          Seq(col("value")), col("ct"), "before", inclusive = false)
        val agg = withBefore
          .select((col("c1") * (col("before") + (col("ct") + 1) / lit(2.0)))
              .as("contrib"), col("c1"), col("ct"))
          .agg(sum(col("contrib")).as("r1"),
            sum(col("c1")).cast("double").as("n1"),
            (sum(col("ct")) - sum(col("c1"))).cast("double").as("n2"))
        agg.select(col("n1").cast("long").as("n1"),
          col("n2").cast("long").as("n2"),
          r6(col("r1") - col("n1") * (col("n1") + 1) / 2).as("u1"),
          r6((col("r1") - col("n1") * (col("n1") + 1) / 2 -
            col("n1") * col("n2") / 2) /
            sqrt(col("n1") * col("n2") * (col("n1") + col("n2") + 1) / 12)).as("z"))
      },
      s"""WITH s AS (SELECT value,
                  CASE WHEN event_type='click' THEN 1 ELSE 0 END AS i1
                FROM events WHERE event_type IN ('click', 'view')),
              r AS (SELECT i1,
                  rank() OVER (ORDER BY value) +
                    (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar
                FROM s),
              agg AS (SELECT sum(CASE WHEN i1=1 THEN ar END) AS r1,
                  CAST(sum(i1) AS DOUBLE) AS n1,
                  CAST(count(*) - sum(i1) AS DOUBLE) AS n2 FROM r)
              SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                ${Portable.r6Sql("r1 - n1*(n1+1)/2")} AS u1,
                ${Portable.r6Sql("(r1 - n1*(n1+1)/2 - n1*n2/2) / sqrt(n1*n2*(n1+n2+1)/12)")} AS z
              FROM agg"""),

    // Seasonality strength per type: the share of value variance
    // explained by the hour-of-day profile (1 − var(resid)/var(total),
    // clamped at 0) — the "is there a daily cycle worth modelling"
    // gate before fitting anything seasonal. The 24-row-per-type
    // profile is a broadcast dim.
    Q("agg_seasonality_strength",
      (s, d) => {
        val hm = ev(s, d)
          .groupBy(col("event_type"), ScalarFns.hourOfDay(col("ts")).as("h"))
          .agg(avg(col("value")).as("hmean"))
        ev(s, d).withColumn("h", ScalarFns.hourOfDay(col("ts")))
          .join(broadcast(hm), Seq("event_type", "h"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            r6(greatest(lit(0.0), lit(1.0) -
              var_pop(col("value") - col("hmean")) / var_pop(col("value")))).as("strength"))
      },
      s"""WITH hm AS (SELECT event_type,
                  hour(CAST(ts AS TIMESTAMP)) AS h, avg(value) AS hmean
                FROM events GROUP BY 1, 2)
              SELECT e.event_type, count(*) AS n,
                ${Portable.r6Sql("greatest(0.0, 1.0 - var_pop(e.value - hm.hmean) / var_pop(e.value))")} AS strength
              FROM events e JOIN hm ON hm.event_type = e.event_type
                AND hm.h = hour(CAST(e.ts AS TIMESTAMP))
              GROUP BY 1"""),

    // Daily new-vs-returning split: classify each (user, active day)
    // against the user's first-ever day — the audience-growth readout
    // upstream of churn/stickiness. First-seen is one keyed min;
    // the classification join shuffles on user_id only.
    Q("agg_new_vs_returning",
      (s, d) => {
        val f = ev(s, d).groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_day"))
        val days = ev(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        days.join(f, Seq("user_id"))
          .groupBy(col("day"))
          .agg(sum(when(col("day") === col("first_day"), 1).otherwise(0))
              .cast("long").as("new_users"),
            sum(when(col("day") > col("first_day"), 1).otherwise(0))
              .cast("long").as("returning_users"))
      },
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events GROUP BY 1),
              d AS (SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day
                FROM events e)
              SELECT d.day,
                CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
                CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS returning_users
              FROM d JOIN f ON f.user_id = d.user_id GROUP BY 1"""),

    // Per-user lifetime accounting: span, active days, intensity —
    // the base table for LTV/engagement segmentation. One keyed
    // aggregate; the distinct-day count is exact (count distinct
    // within the user key, partition-local after the shuffle).
    Q("agg_user_lifetime",
      (s, d) => ev(s, d).groupBy(col("user_id"))
        .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            + 1).cast("long").as("lifespan_days"),
          countDistinct(to_date(col("ts"))).as("active_days"),
          count(lit(1)).as("n_events"),
          r6(count(lit(1)) /
            countDistinct(to_date(col("ts"))).cast("double"))
            .as("events_per_active_day")),
      s"""SELECT user_id,
                CAST(date_diff('day', min(CAST(ts AS DATE)),
                  max(CAST(ts AS DATE))) + 1 AS BIGINT) AS lifespan_days,
                CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                  AS active_days,
                count(*) AS n_events,
                ${Portable.r6Sql("count(*) * 1.0 / count(DISTINCT CAST(ts AS DATE))")}
                  AS events_per_active_day
              FROM events GROUP BY 1"""),

    // Weekday-vs-weekend effect size (Cohen's d with pooled variance)
    // per series — the magnitude readout the Welch test's p-value
    // doesn't give. Both subgroup moments come out of ONE conditional
    // aggregate (null-skipping avg/var over CASE columns), so the
    // whole statistic is a single pass.
    Q("agg_cohens_d",
      (s, d) => {
        val we = ScalarFns.isWeekend(col("ts"))
        val m = ev(s, d).select(col("event_type"), col("value"),
            we.cast("double").as("we"))
          .groupBy(col("event_type"))
          .agg(avg(when(col("we") === 0, col("value"))).as("m1"),
            avg(when(col("we") === 1, col("value"))).as("m2"),
            var_samp(when(col("we") === 0, col("value"))).as("v1"),
            var_samp(when(col("we") === 1, col("value"))).as("v2"),
            sum(lit(1.0) - col("we")).as("n1"), sum(col("we")).as("n2"))
        m.select(col("event_type"),
          col("n1").cast("long").as("n_weekday"),
          col("n2").cast("long").as("n_weekend"),
          r6((col("m1") - col("m2")) /
            sqrt(((col("n1") - 1) * col("v1") + (col("n2") - 1) * col("v2"))
              / (col("n1") + col("n2") - 2))).as("cohens_d"))
      },
      s"""WITH s AS (SELECT event_type, value,
                  CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
                    THEN 1 ELSE 0 END AS we
                FROM events),
              m AS (SELECT event_type,
                  avg(CASE WHEN we=0 THEN value END) AS m1,
                  avg(CASE WHEN we=1 THEN value END) AS m2,
                  var_samp(CASE WHEN we=0 THEN value END) AS v1,
                  var_samp(CASE WHEN we=1 THEN value END) AS v2,
                  CAST(sum(1 - we) AS DOUBLE) AS n1,
                  CAST(sum(we) AS DOUBLE) AS n2
                FROM s GROUP BY 1)
              SELECT event_type, CAST(n1 AS BIGINT) AS n_weekday,
                CAST(n2 AS BIGINT) AS n_weekend,
                ${Portable.r6Sql("(m1 - m2) / sqrt(((n1-1)*v1 + (n2-1)*v2) / (n1 + n2 - 2))")} AS cohens_d
              FROM m"""),

    // Poisson rate estimation per series: events/day with the
    // normal-approximation 95% interval (λ̂ ± 1.96·√N/days) — the
    // "is this feed's volume in its usual band" readout. Two nested
    // counts, both keyed.
    Q("agg_poisson_rate",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        daily.groupBy(col("event_type"))
          .agg(sum(col("n")).cast("double").as("total"),
            count(lit(1)).cast("double").as("days"))
          .select(col("event_type"),
            col("total").cast("long").as("n_events"),
            col("days").cast("long").as("n_days"),
            r6(col("total") / col("days")).as("rate_per_day"),
            r6(col("total") / col("days") -
              lit(1.959964) * sqrt(col("total")) / col("days"))
              .as("ci_lo"),
            r6(col("total") / col("days") +
              lit(1.959964) * sqrt(col("total")) / col("days"))
              .as("ci_hi"))
      },
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, CAST(sum(n) AS DOUBLE) AS total,
                  CAST(count(*) AS DOUBLE) AS days FROM d GROUP BY 1)
              SELECT event_type, CAST(total AS BIGINT) AS n_events,
                CAST(days AS BIGINT) AS n_days,
                ${Portable.r6Sql("total / days")} AS rate_per_day,
                ${Portable.r6Sql("total / days - 1.959964 * sqrt(total) / days")}
                  AS ci_lo,
                ${Portable.r6Sql("total / days + 1.959964 * sqrt(total) / days")}
                  AS ci_hi
              FROM m"""),

    // Hodges–Lehmann location estimate per series: the median of all
    // Walsh averages (pairwise means, i ≤ j) of the daily revenue —
    // the robust "typical day" that one outlier day cannot move. The
    // pair join is day-dim² per series (dim-sized); the median is the
    // exact interpolated percentile.
    Q("agg_hodges_lehmann",
      (s, d) => {
        val daily = graft.ops.Guards.assertGroupSizeBound(dailyRevenue(s, d),
          graft.ops.Guards.MaxPairGrainRows, "agg_hodges_lehmann",
          col("event_type"))
        val a = daily.select(col("event_type"), col("day").as("da"),
          col("rev").as("ra"))
        val b = daily.select(col("event_type").as("et2"),
          col("day").as("db"), col("rev").as("rb"))
        a.join(b, a("event_type") === b("et2") && col("da") <= col("db"))
          .select(col("event_type"), ((col("ra") + col("rb")) / 2).as("w"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            r6(percentile(col("w"), lit(0.5))).as("hl_estimate"))
      },
      s"""WITH $dailyRevenueSql,
              p AS (SELECT a.event_type, (a.rev + b.rev)/2.0 AS w
                FROM d a JOIN d b ON a.event_type = b.event_type
                  AND a.day <= b.day)
              SELECT event_type, count(*) AS n_pairs,
                ${Portable.r6Sql("quantile_cont(w, 0.5)")} AS hl_estimate
              FROM p GROUP BY 1"""),

    // Wilcoxon signed-rank test of day-vs-same-day-last-week revenue:
    // the paired nonparametric "did this week really shift" readout
    // (average ranks of |diff|, zero diffs dropped per convention,
    // normal approximation without tie correction — documented). All
    // ranking happens on the day dim per series.
    Q("agg_wilcoxon_signed_rank",
      (s, d) => {
        val daily = dailyRevenue(s, d)
        val wk = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val diffs = daily
          .withColumn("diff", col("rev") - lag(col("rev"), 7).over(wk))
          .filter(col("diff").isNotNull && col("diff") =!= 0)
        val ar = rank().over(Window.partitionBy(col("event_type"))
            .orderBy(abs(col("diff")))) +
          (count(lit(1)).over(Window.partitionBy(col("event_type"),
            abs(col("diff")))) - 1) / lit(2.0)
        diffs.select(col("event_type"), col("diff"), ar.as("ar"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast("double").as("n"),
            sum(when(col("diff") > 0, col("ar")).otherwise(0.0))
              .as("wplus"))
          .select(col("event_type"), col("n").cast("long").as("n_pairs"),
            r6(col("wplus")).as("w_plus"),
            r6((col("wplus") - col("n") * (col("n") + 1) / 4) /
              sqrt(col("n") * (col("n") + 1) * (lit(2) * col("n") + 1) / 24)).as("z"))
      },
      s"""WITH $dailyRevenueSql,
              pair AS (SELECT event_type, rev - lag(rev, 7) OVER
                  (PARTITION BY event_type ORDER BY day) AS diff FROM d),
              nz AS (SELECT event_type, diff FROM pair
                WHERE diff IS NOT NULL AND diff <> 0),
              r AS (SELECT event_type, diff,
                  rank() OVER (PARTITION BY event_type
                    ORDER BY abs(diff)) +
                    (count(*) OVER (PARTITION BY event_type, abs(diff))
                      - 1) / 2.0 AS ar
                FROM nz),
              agg AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                  sum(CASE WHEN diff > 0 THEN ar ELSE 0 END) AS wplus
                FROM r GROUP BY 1)
              SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                ${Portable.r6Sql("wplus")} AS w_plus,
                ${Portable.r6Sql("(wplus - n*(n+1)/4) / sqrt(n*(n+1)*(2*n+1)/24)")}
                  AS z
              FROM agg"""),

    // Expected + maximum calibration error: the scalar rollup of the
    // agg_calibration_bins reliability table (same keyed-md5 pseudo
    // score / label so the oracle replays it bit-exactly) — one number
    // to gate a scorer on instead of eyeballing ten bins.
    Q("agg_ece",
      (s, d) => {
        val t = hashedLabels(s, d)
        val b = t.groupBy(expr("(h * 10) div 16777216").cast("long")
            .as("bin"))
          .agg(count(lit(1)).as("n"),
            (sum(col("lab")) * lit(1.0) / count(lit(1))).as("acc"),
            (sum(col("h")) / lit(16777216.0) / count(lit(1))).as("conf"))
        val tot = b.agg(sum(col("n")).as("total"))
        b.crossJoin(broadcast(tot))
          .groupBy(col("total"))
          .agg(r6(sum((col("n") / col("total").cast("double")) *
              abs(col("acc") - col("conf")))).as("ece"),
            r6(max(abs(col("acc") - col("conf")))).as("mce"))
          .select(col("total").as("n"), col("ece"), col("mce"))
      },
      s"""WITH $hashedLabelsSql,
              b AS (SELECT CAST((h * 10) // 16777216 AS BIGINT) AS bin,
                  count(*) AS n,
                  CAST(sum(lab) AS BIGINT) * 1.0 / count(*) AS acc,
                  CAST(sum(h) AS BIGINT) / 16777216.0 / count(*) AS conf
                FROM t GROUP BY 1),
              tot AS (SELECT sum(n) AS total FROM b)
              SELECT CAST(tot.total AS BIGINT) AS n,
                ${Portable.r6Sql("sum((b.n * 1.0 / tot.total) * abs(b.acc - b.conf))")} AS ece,
                ${Portable.r6Sql("max(abs(b.acc - b.conf))")} AS mce
              FROM b, tot GROUP BY tot.total"""),

    // Parkinson range volatility per week: √(avg(ln(H/L)²)/(4·ln2))
    // over the daily cents high/low — the estimator that reads intraday
    // range instead of close-to-close variance (≈5× more efficient on
    // the same data). One keyed candle aggregate, one weekly rollup.
    Q("agg_parkinson_vol",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"),
            date_trunc("week", col("ts")).as("wk"))
          .agg(max(floor(col("value") * 100 + lit(0.5)).cast("long"))
              .cast("double").as("h"),
            min(floor(col("value") * 100 + lit(0.5)).cast("long"))
              .cast("double").as("l"))
          .filter(col("l") > 0)
        daily.groupBy(col("event_type"), col("wk").cast("date").as("week"))
          .agg(count(lit(1)).as("n_days"),
            r6(sqrt(avg(pow(log(col("h") / col("l")), 2)) /
              (lit(4) * log(lit(2.0))))).as("parkinson_vol"))
      },
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
                  CAST(max(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS h,
                  CAST(min(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS l
                FROM events GROUP BY 1, 2, 3)
              SELECT event_type, CAST(wk AS DATE) AS week,
                count(*) AS n_days,
                ${Portable.r6Sql("sqrt(avg(pow(ln(h / l), 2)) / (4 * ln(2)))")}
                  AS parkinson_vol
              FROM d WHERE l > 0 GROUP BY 1, 2"""),

    // Lincoln–Petersen capture–recapture: estimate the total user
    // population from the first day's "capture" and the last day's
    // "recapture" overlap (n1·n2/m) — the ecological estimator that
    // sanity-checks distinct counts you can't afford to compute
    // exactly. Emitted alongside the true distinct so the estimate's
    // error is auditable. Two day-filtered distinct sets, one semi
    // join; everything else is one-row broadcasts.
    Q("agg_capture_recapture",
      (s, d) => {
        // one user-keyed pass (r18): capture/recapture membership and
        // the exact distinct all fall out of per-user day flags — the
        // old shape scanned events five times (two distincts, a semi
        // join, a count-distinct) and chained four one-row broadcast
        // builds; integers are identical by construction
        val days = ev(s, d).agg(min(to_date(col("ts"))).as("d1"),
          max(to_date(col("ts"))).as("d2"))
        ev(s, d).crossJoin(broadcast(days))
          .groupBy(col("user_id"))
          .agg(
            max(when(to_date(col("ts")) === col("d1"), 1L).otherwise(0L))
              .as("in1"),
            max(when(to_date(col("ts")) === col("d2"), 1L).otherwise(0L))
              .as("in2"))
          .agg(coalesce(sum(col("in1")), lit(0L)).as("n1"),
            coalesce(sum(col("in2")), lit(0L)).as("n2"),
            coalesce(sum(col("in1") * col("in2")), lit(0L)).as("n_both"),
            count(lit(1)).as("true_distinct"))
          .select(col("n1"), col("n2"), col("n_both"),
            r6(col("n1") * lit(1.0) * col("n2") / col("n_both"))
              .as("lincoln_petersen"),
            col("true_distinct"))
      },
      s"""WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d1,
                  max(CAST(ts AS DATE)) AS d2 FROM events),
              s1 AS (SELECT DISTINCT user_id FROM events, bounds
                WHERE CAST(ts AS DATE) = bounds.d1),
              s2 AS (SELECT DISTINCT user_id FROM events, bounds
                WHERE CAST(ts AS DATE) = bounds.d2),
              co AS (SELECT (SELECT count(*) FROM s1) AS n1,
                  (SELECT count(*) FROM s2) AS n2,
                  (SELECT count(*) FROM s1 JOIN s2 USING (user_id)) AS m),
              tru AS (SELECT count(DISTINCT user_id) AS total FROM events)
              SELECT CAST(co.n1 AS BIGINT) AS n1,
                CAST(co.n2 AS BIGINT) AS n2,
                CAST(co.m AS BIGINT) AS n_both,
                ${Portable.r6Sql("co.n1 * 1.0 * co.n2 / co.m")} AS lincoln_petersen,
                CAST(tru.total AS BIGINT) AS true_distinct
              FROM co, tru"""),

    // Mutual information (bits) between series identity and
    // hour-of-day: the single-number "how much does WHEN tell you
    // about WHAT" dependence readout — chi2's effect-size sibling on
    // the same contingency table. Marginals via partition windows over
    // the |types|×24 cell dim.
    Q("agg_mutual_information",
      (s, d) => {
        val c = ev(s, d)
          .groupBy(col("event_type").as("x"),
            ScalarFns.hourOfDay(col("ts")).as("y"))
          .agg(count(lit(1)).cast("double").as("n"))
        val t = c.select(col("n"),
          sum(col("n")).over(Window.partitionBy()).as("tot"),
          sum(col("n")).over(Window.partitionBy(col("x"))).as("nx"),
          sum(col("n")).over(Window.partitionBy(col("y"))).as("ny"))
        t.groupBy(col("tot"))
          .agg(r6(sum((col("n") / col("tot")) *
            log2((col("n") * col("tot")) / (col("nx") * col("ny")))))
            .as("mi_bits"))
          .select(col("tot").cast("long").as("n"), col("mi_bits"))
      },
      s"""WITH c AS (SELECT event_type AS x,
                  hour(CAST(ts AS TIMESTAMP)) AS y,
                  CAST(count(*) AS DOUBLE) AS n FROM events GROUP BY 1, 2),
              t AS (SELECT x, y, n,
                  sum(n) OVER () AS tot,
                  sum(n) OVER (PARTITION BY x) AS nx,
                  sum(n) OVER (PARTITION BY y) AS ny
                FROM c)
              SELECT CAST(sum(n) AS BIGINT) AS n,
                ${Portable.r6Sql("sum((n / tot) * log2((n * tot) / (nx * ny)))")}
                  AS mi_bits
              FROM t GROUP BY tot"""),

    // Gumbel extreme-value fit by method of moments over the daily
    // maxima per series (μ = mean − γ·β, β = s·√6/π) — the EVT readout
    // that turns "what was the worst day" into "how bad is a 1-in-N
    // day". Two nested keyed aggregates, day-dim moments.
    Q("agg_extreme_value_fit",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg((max(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .cast("double") / 100.0).as("mx"))
        val beta = stddev_samp(col("mx")) * sqrt(lit(6.0)) / lit(math.Pi)
        daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            r6(avg(col("mx")) - lit(0.5772156649015329) * beta)
              .as("gumbel_mu"),
            r6(beta).as("gumbel_beta"))
      },
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(max(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    / 100.0 AS mx
                FROM events GROUP BY 1, 2)
              SELECT event_type, count(*) AS n_days,
                ${Portable.r6Sql("avg(mx) - 0.5772156649015329 * (stddev_samp(mx) * sqrt(6) / pi())")} AS gumbel_mu,
                ${Portable.r6Sql("stddev_samp(mx) * sqrt(6) / pi()")} AS gumbel_beta
              FROM d GROUP BY 1"""),

    // Gains table: cumulative capture and lift by score decile,
    // walking deciles best-first — the "top 20% of scores captures X%
    // of positives" model-eval readout, over the same keyed-md5
    // pseudo score/label as the calibration family. Cumulations run
    // on the 10-row decile dim.
    Q("agg_gains_table",
      (s, d) => {
        val t = hashedLabels(s, d)
        val b = t.groupBy(expr("(h * 10) div 16777216").cast("long")
            .as("decile"))
          .agg(count(lit(1)).as("n"), sum(col("lab")).as("pos"))
        val wDesc = Window.orderBy(col("decile").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
        b.select(col("decile"), col("n"), col("pos"),
          r6(sum(col("pos")).over(wDesc) /
            sum(col("pos")).over(wAll).cast("double"))
            .as("cum_capture"),
          r6((sum(col("pos")).over(wDesc) /
              sum(col("n")).over(wDesc).cast("double")) /
            (sum(col("pos")).over(wAll) /
              sum(col("n")).over(wAll).cast("double"))).as("cum_lift"))
      },
      s"""WITH $hashedLabelsSql,
              b AS (SELECT CAST((h * 10) // 16777216 AS BIGINT) AS decile,
                  count(*) AS n, CAST(sum(lab) AS BIGINT) AS pos
                FROM t GROUP BY 1),
              c AS (SELECT decile, n, pos,
                  sum(n) OVER (ORDER BY decile DESC) AS cum_n,
                  sum(pos) OVER (ORDER BY decile DESC) AS cum_pos,
                  sum(pos) OVER () AS tot_pos, sum(n) OVER () AS tot_n
                FROM b)
              SELECT decile, n, pos,
                ${Portable.r6Sql("cum_pos * 1.0 / tot_pos")} AS cum_capture,
                ${Portable.r6Sql("(cum_pos * 1.0 / cum_n) / (tot_pos * 1.0 / tot_n)")} AS cum_lift
              FROM c"""),

    // Kruskal–Wallis H: the k-sample rank ANOVA (does ANY series'
    // value distribution differ?) completing the nonparametric suite
    // past the pairwise Mann–Whitney. Global average ranks ride the
    // same grouped-support + bucketed-prefix-sum machinery (no global
    // sort); per-series rank sums come from the (series, value) count
    // table joined to the support. No tie-correction term
    // (documented, matching the oracle exactly).
    Q("agg_kruskal_wallis",
      (s, d) => {
        val g1 = ev(s, d).groupBy(col("value"))
          .agg(count(lit(1)).as("ct"))
        val ar = ScalableRank.globalPrefixSum(g1, floor(col("value")),
          Seq(col("value")), col("ct"), "before", inclusive = false)
          .select(col("value"),
            (col("before") + (col("ct") + 1) / lit(2.0)).as("ar"))
        val g2 = ev(s, d).groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("ctv"))
        val perType = g2.join(ar, Seq("value"))
          .groupBy(col("event_type"))
          .agg(sum(col("ctv")).cast("double").as("nj"),
            sum(col("ctv") * col("ar")).as("rj"))
        val t = perType.agg(sum(col("nj")).as("n"))
        perType.crossJoin(broadcast(t))
          .groupBy(col("n"))
          .agg(count(lit(1)).as("k"),
            r6(lit(12.0) / (col("n") * (col("n") + 1)) *
              sum(col("rj") * col("rj") / col("nj")) -
              lit(3) * (col("n") + 1)).as("h_stat"))
          .select(col("n").cast("long").as("n"), col("k"), col("h_stat"))
      },
      s"""WITH r AS (SELECT event_type,
                  rank() OVER (ORDER BY value) +
                    (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar
                FROM events),
              g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nj,
                  sum(ar) AS rj
                FROM r GROUP BY 1),
              t AS (SELECT sum(nj) AS n FROM g)
              SELECT CAST(t.n AS BIGINT) AS n, count(*) AS k,
                ${Portable.r6Sql("12.0 / (t.n * (t.n + 1)) * sum(rj * rj / nj) - 3 * (t.n + 1)")} AS h_stat
              FROM g, t GROUP BY t.n"""),

    // Friedman test: rank the k series WITHIN each day block, then ask
    // whether the rank sums differ — the repeated-measures sibling of
    // Kruskal–Wallis that controls for the day effect. Blocks are
    // k-row day partitions; everything is day-dim sized.
    Q("agg_friedman_test",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .cast("double").as("rev"))
        val ar = rank().over(Window.partitionBy(col("day"))
            .orderBy(col("rev"))) +
          (count(lit(1)).over(Window.partitionBy(col("day"), col("rev")))
            - 1) / lit(2.0)
        val g = daily.select(col("event_type"), ar.as("ar"))
          .groupBy(col("event_type"))
          .agg(sum(col("ar")).as("rj"),
            count(lit(1)).cast("double").as("nb"))
        val dims = g.agg(max(col("nb")).as("n"),
          count(lit(1)).cast("double").as("k"))
        g.crossJoin(broadcast(dims))
          .groupBy(col("n"), col("k"))
          .agg(r6(lit(12.0) /
              (col("n") * col("k") * (col("k") + 1)) *
              sum(col("rj") * col("rj")) -
              lit(3) * col("n") * (col("k") + 1)).as("chi2_f"))
          .select(col("n").cast("long").as("n_blocks"),
            col("k").cast("long").as("k"), col("chi2_f"))
      },
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS rev
                FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, day,
                  rank() OVER (PARTITION BY day ORDER BY rev) +
                    (count(*) OVER (PARTITION BY day, rev) - 1) / 2.0
                    AS ar
                FROM d),
              g AS (SELECT event_type, sum(ar) AS rj,
                  CAST(count(*) AS DOUBLE) AS nb
                FROM r GROUP BY 1),
              dims AS (SELECT CAST(max(nb) AS DOUBLE) AS n,
                  CAST(count(*) AS DOUBLE) AS k FROM g)
              SELECT CAST(dims.n AS BIGINT) AS n_blocks,
                CAST(dims.k AS BIGINT) AS k,
                ${Portable.r6Sql("12.0 / (dims.n * dims.k * (dims.k + 1)) * sum(rj * rj) - 3 * dims.n * (dims.k + 1)")} AS chi2_f
              FROM g, dims GROUP BY dims.n, dims.k"""),

    // Theil T inequality per series over per-user revenue — the
    // log-based, exactly-decomposable inequality index complementing
    // the rank-based Gini. One user rollup, one broadcast of the
    // series means.
    Q("agg_theil_index",
      (s, d) => {
        val u = ev(s, d).groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .cast("double").as("x"))
        val m = u.groupBy(col("event_type"))
          .agg(avg(col("x")).as("mu"),
            count(lit(1)).cast("double").as("n"))
        u.join(broadcast(m), Seq("event_type"))
          .filter(col("x") > 0)
          .groupBy(col("event_type"), col("n"))
          .agg(r6(sum((col("x") / (col("mu") * col("n"))) *
            log(col("x") / col("mu")))).as("theil_t"))
          .select(col("event_type"), col("n").cast("long").as("n_users"),
            col("theil_t"))
      },
      s"""WITH u AS (SELECT event_type, user_id,
                  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS x
                FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, avg(x) AS mu,
                  CAST(count(*) AS DOUBLE) AS n
                FROM u GROUP BY 1)
              SELECT u.event_type, CAST(m.n AS BIGINT) AS n_users,
                ${Portable.r6Sql("sum((u.x / (m.mu * m.n)) * ln(u.x / m.mu))")}
                  AS theil_t
              FROM u JOIN m ON m.event_type = u.event_type
              WHERE u.x > 0 GROUP BY 1, 2"""),

    // Hill estimator of the Pareto tail index α over the top-50
    // per-user revenues per series — "how heavy is the whale tail"
    // (α ≤ 2: infinite variance; the readout that decides whether
    // mean-based budgeting is meaningful at all). The order statistics
    // live on the per-series top-k dim.
    Q("agg_pareto_tail_fit",
      (s, d) => {
        val u = ev(s, d).groupBy(col("event_type"), col("user_id"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .cast("double").as("x"))
          .filter(col("x") > 0)
        val r = u.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("x").desc, col("user_id"))))
        val kmin = r.filter(col("rk") === 51)
          .select(col("event_type"), col("x").as("xk"))
        r.filter(col("rk") <= 50)
          .join(kmin, Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("k"),
            r6(lit(1.0) /
              (sum(log(col("x") / col("xk"))) / count(lit(1))))
              .as("hill_alpha"))
      },
      s"""WITH u AS (SELECT event_type, user_id,
                  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS x
                FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, x,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY x DESC, user_id) AS rk
                FROM u WHERE x > 0),
              kmin AS (SELECT event_type, x AS xk FROM r WHERE rk = 51)
              SELECT r.event_type, count(*) AS k,
                ${Portable.r6Sql("1.0 / (sum(ln(r.x / kmin.xk)) / count(*))")}
                  AS hill_alpha
              FROM r JOIN kmin ON kmin.event_type = r.event_type
              WHERE r.rk <= 50 GROUP BY 1"""),

    // Cohen's kappa between two deterministic binary raters (the
    // value-threshold rule vs the keyed-md5 pseudo-model) —
    // chance-corrected agreement, the honest sibling of raw accuracy
    // when classes are imbalanced. One contingency aggregate.
    Q("agg_kappa_agreement",
      (s, d) => {
        val t = ev(s, d).select(
          when(col("value") >= 50, 1L).otherwise(0L).as("a"),
          when(graft.functions.PortableHash
            .md5Long(col("event_id").cast("string"), 6) >= 8388608L, 1L)
            .otherwise(0L).as("b"))
        val c = t.agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("a") === col("b"), 1).otherwise(0))
            .cast("double").as("agree"),
          sum(col("a")).cast("double").as("na"),
          sum(col("b")).cast("double").as("nb"))
        val pe = (col("na") * col("nb") +
          (col("n") - col("na")) * (col("n") - col("nb"))) /
          (col("n") * col("n"))
        c.select(col("n").cast("long").as("n"),
          r6(col("agree") / col("n")).as("p_observed"),
          r6(pe).as("p_expected"),
          r6((col("agree") / col("n") - pe) / (lit(1) - pe))
            .as("kappa"))
      },
      s"""WITH t AS (SELECT
                  CASE WHEN value >= 50 THEN 1 ELSE 0 END AS a,
                  CASE WHEN CAST(concat('0x', substr(md5(
                      CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT)
                    >= 8388608 THEN 1 ELSE 0 END AS b
                FROM events),
              c AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                  sum(CASE WHEN a = b THEN 1 ELSE 0 END) * 1.0 AS agree,
                  CAST(sum(a) AS DOUBLE) AS na,
                  CAST(sum(b) AS DOUBLE) AS nb
                FROM t)
              SELECT CAST(n AS BIGINT) AS n,
                ${Portable.r6Sql("agree / n")} AS p_observed,
                ${Portable.r6Sql("(na*nb + (n-na)*(n-nb)) / (n*n)")} AS p_expected,
                ${Portable.r6Sql("(agree/n - (na*nb + (n-na)*(n-nb))/(n*n)) / (1 - (na*nb + (n-na)*(n-nb))/(n*n))")} AS kappa
              FROM c"""),

    // Copeland tournament score: each day "votes" by daily revenue,
    // each pair of series plays one match decided by net daily wins
    // (win 1 / tie ½ / loss 0) — the rank-aggregation readout that is
    // robust to one blowout day, vs the season-total ranking a plain
    // sum gives. Pair matrix is |types|², day joins are day-dim.
    Q("agg_copeland_score",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .as("rev"))
        val a = daily.select(col("day"), col("event_type").as("x"),
          col("rev").as("rx"))
        val b = daily.select(col("day").as("day2"),
          col("event_type").as("y"), col("rev").as("ry"))
        val p = a.join(b, col("day") === col("day2") && col("x") < col("y"))
          .groupBy(col("x"), col("y"))
          .agg(sum(when(col("rx") > col("ry"), 1)
            .when(col("rx") < col("ry"), -1).otherwise(0)).as("net"))
        // both duel directions explode from one row (r18): the old
        // two-branch union re-ran the daily self-join once per branch
        val scores = p.select(explode(array(
            struct(col("x").as("t"),
              when(col("net") > 0, 1.0).when(col("net") === 0, 0.5)
                .otherwise(0.0).as("w")),
            struct(col("y").as("t"),
              when(col("net") < 0, 1.0).when(col("net") === 0, 0.5)
                .otherwise(0.0).as("w")))).as("__s"))
          .select(col("__s.t").as("t"), col("__s.w").as("w"))
        scores.groupBy(col("t").as("event_type"))
          .agg(r6(sum(col("w"))).as("copeland_score"),
            count(lit(1)).as("n_opponents"))
      },
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(floor(value*100+0.5) AS BIGINT)) AS rev
                FROM events GROUP BY 1, 2),
              p AS (SELECT a.event_type AS x, b.event_type AS y,
                  sum(CASE WHEN a.rev > b.rev THEN 1
                    WHEN a.rev < b.rev THEN -1 ELSE 0 END) AS net
                FROM d a JOIN d b ON a.day = b.day
                  AND a.event_type < b.event_type
                GROUP BY 1, 2),
              s AS (SELECT x AS t, CASE WHEN net > 0 THEN 1.0
                    WHEN net = 0 THEN 0.5 ELSE 0 END AS w FROM p
                UNION ALL
                SELECT y, CASE WHEN net < 0 THEN 1.0
                  WHEN net = 0 THEN 0.5 ELSE 0 END FROM p)
              SELECT t AS event_type,
                ${Portable.r6Sql("CAST(sum(w) AS DOUBLE)")} AS copeland_score,
                count(*) AS n_opponents
              FROM s GROUP BY 1"""),

    // Barabási burstiness B = (σ−μ)/(σ+μ) of each user's inter-event
    // gaps: −1 = metronome, 0 = Poisson, →1 = bursty — the temporal
    // fingerprint that separates bots from humans. One partitioned
    // lag + one keyed moment aggregate over exact-integer microsecond
    // gaps.
    Q("agg_interevent_burstiness",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
        val micros = unix_micros(col("ts").cast("timestamp"))
        val g = ev(s, d)
          .select(col("user_id"),
            (micros - lag(micros, 1).over(w)).as("gap"))
          .filter(col("gap").isNotNull)
        g.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_gaps"),
            avg(col("gap")).as("mu"), stddev_samp(col("gap")).as("s"))
          .filter(col("n_gaps") >= 2)
          .select(col("user_id"), col("n_gaps"),
            r6((col("s") - col("mu")) / (col("s") + col("mu")))
              .as("burstiness"))
      },
      s"""WITH g AS (SELECT user_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) -
                    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                      (PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap
                FROM events),
              m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                  avg(gap) AS mu, stddev_samp(gap) AS s
                FROM g WHERE gap IS NOT NULL GROUP BY 1
                HAVING count(*) >= 2)
              SELECT user_id, n_gaps,
                ${Portable.r6Sql("(s - mu) / (s + mu)")} AS burstiness
              FROM m"""),

    // Two-way ANOVA sum-of-squares decomposition for
    // value ~ series × weekend: SS_A, SS_B, SS_interaction, SS_error —
    // which factor actually carries the variance. Every total derives
    // from the exact-integer (n, Σcents, Σcents²) CELL table and stays
    // LONG through every roll-up (Σcents² < 2^63 inside the fuzz
    // envelope), so n/s1/s2 totals are order-free on both engines; the
    // SS sums themselves are genuinely fractional doubles at ~1e16
    // under fuzzed magnitudes, so their ≤|A|×2-term summation order is
    // PINNED (sorted fold here, ordered aggregate in the oracle —
    // fuzz seed 28 caught the unpinned form drifting one 4-dp step),
    // squares are explicit multiplication (pow(x, 2) is not contracted
    // identically by both engines), and the 4-dp output rounding uses
    // the portable guarded floor (Portable.r4) like every 6-dp site.
    Q("agg_two_way_anova",
      (s, d) => {
        val src = ev(s, d).select(
          floor(col("value") * 100 + lit(0.5)).cast("long").as("yc"),
          col("event_type").as("a"),
          ScalarFns.isWeekend(col("ts")).as("b"))
        val cells = persist(src.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n"), sum(col("yc")).as("s1"),
            sum(col("yc") * col("yc")).as("s2")))
        val gm = cells.agg(sum(col("n")).as("nn"), sum(col("s1")).as("t1"),
          sum(col("s2")).as("t2"))
        val m = col("t1").cast("double") / col("nn").cast("double")
        def term(ng: Column, sg: Column): Column = {
          val dev = sg.cast("double") / ng.cast("double") - m
          ng.cast("double") * (dev * dev)
        }
        // order-pinned SS sum: sort the (key, term) pairs, fold left —
        // the oracle's `sum(term ORDER BY key)` accumulates identically
        def ssOver(grouped: DataFrame, keys: Seq[Column]): DataFrame =
          grouped
            .crossJoin(broadcast(gm))
            .select(struct(keys: _*).as("k"),
              term(col("ng"), col("sg")).as("t"))
            .agg(aggregate(
              array_sort(collect_list(struct(col("k"), col("t")))),
              lit(0.0), (acc, x) => acc + x.getField("t")).as("v"))
        val ssa = ssOver(cells.groupBy(col("a"))
          .agg(sum(col("n")).as("ng"), sum(col("s1")).as("sg")),
          Seq(col("a")))
        val ssb = ssOver(cells.groupBy(col("b"))
          .agg(sum(col("n")).as("ng"), sum(col("s1")).as("sg")),
          Seq(col("b")))
        val sscell = ssOver(cells
          .select(col("a"), col("b"), col("n").as("ng"),
            col("s1").as("sg")), Seq(col("a"), col("b")))
        val sstot = gm.select((col("t2").cast("double") -
          col("nn").cast("double") * (m * m)).as("v"))
        ssa.select(col("v").as("va")).crossJoin(ssb.select(col("v").as("vb")))
          .crossJoin(sscell.select(col("v").as("vc2")))
          .crossJoin(sstot.select(col("v").as("vt")))
          .select(Portable.r4(col("va") / 10000).as("ss_a"),
            Portable.r4(col("vb") / 10000).as("ss_b"),
            Portable.r4((col("vc2") - col("va") - col("vb")) / 10000)
              .as("ss_interaction"),
            Portable.r4((col("vt") - col("vc2")) / 10000).as("ss_error"))
      },
      s"""WITH s AS (SELECT
                  CAST(floor(value*100+0.5) AS BIGINT) AS yc,
                  event_type AS a,
                  CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)
                    THEN 1 ELSE 0 END AS b
                FROM events),
              cells AS (SELECT a, b, count(*) AS n,
                  CAST(sum(yc) AS BIGINT) AS s1,
                  CAST(sum(yc*yc) AS BIGINT) AS s2
                FROM s GROUP BY 1, 2),
              gm AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                  CAST(sum(s1) AS BIGINT) AS t1,
                  CAST(sum(s2) AS BIGINT) AS t2
                FROM cells),
              ga AS (SELECT a, CAST(sum(n) AS BIGINT) AS ng,
                  CAST(sum(s1) AS BIGINT) AS sg FROM cells GROUP BY 1),
              gb AS (SELECT b, CAST(sum(n) AS BIGINT) AS ng,
                  CAST(sum(s1) AS BIGINT) AS sg FROM cells GROUP BY 1),
              ssa AS (SELECT sum(CAST(ng AS DOUBLE) *
                    ((CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE))
                     * (CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE)))
                    ORDER BY a) AS v
                FROM ga, gm),
              ssb AS (SELECT sum(CAST(ng AS DOUBLE) *
                    ((CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE))
                     * (CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE)))
                    ORDER BY b) AS v
                FROM gb, gm),
              sscell AS (SELECT sum(CAST(n AS DOUBLE) *
                    ((CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE))
                     * (CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)
                        - CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE)))
                    ORDER BY a, b) AS v
                FROM cells, gm),
              sstot AS (SELECT CAST(t2 AS DOUBLE)
                  - CAST(nn AS DOUBLE)
                    * ((CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE))
                       * (CAST(t1 AS DOUBLE)/CAST(nn AS DOUBLE))) AS v
                FROM gm)
              SELECT ${Portable.r4Sql("ssa.v / 10000")} AS ss_a,
                ${Portable.r4Sql("ssb.v / 10000")} AS ss_b,
                ${Portable.r4Sql("(sscell.v - ssa.v - ssb.v) / 10000")}
                  AS ss_interaction,
                ${Portable.r4Sql("(sstot.v - sscell.v) / 10000")} AS ss_error
              FROM ssa, ssb, sscell, sstot"""),
  )
}
