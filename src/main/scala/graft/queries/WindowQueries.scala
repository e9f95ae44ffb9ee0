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

/** Window and time-series keys (`win_*`, `downsample_*`). */
private[graft] object WindowQueries {

  /** Events with `__vc`, the value in integer cents by the floor form
    * `floor(x + 0.5)` that DuckDB's `floor(value*100+0.5)` matches. */
  private def evFloorCents(s: SparkSession, d: String): DataFrame =
    ev(s, d).withColumn("__vc",
      floor(col("value") * 100 + lit(0.5)).cast("long"))

  /** Per-type daily OHLC candles over floor-form cents (`series`,
    * `bucket`, `open`, `high`, `low`, `close`); the DuckDB twin is
    * [[dailyHlcSql]]. */
  private def dailyCandles(s: SparkSession, d: String): DataFrame =
    TimeSeries.ohlc(evFloorCents(s, d), col("event_type"),
      to_date(col("ts")), col("ts"), col("__vc").cast("double"),
      col("event_id"))

  /** Oracle ticks of the daily candles, CTE `k`: cents `vc` and the
    * zero-padded (ts, event_id) order key `ok` that `arg_min`/`arg_max`
    * rank by. */
  private val candleTicksSql =
    """k AS (SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value*100+0.5) AS BIGINT) AS vc,
         lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR),
           20, '0') ||
           lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
       FROM events)"""

  /** DuckDB twin of [[dailyCandles]] without the open: CTEs `k` and
    * `daily(event_type, day, h, l, c)`. */
  private val dailyHlcSql =
    s"""$candleTicksSql,
       daily AS (SELECT event_type, day,
           CAST(max(vc) AS DOUBLE) AS h,
           CAST(min(vc) AS DOUBLE) AS l,
           CAST(arg_max(vc, ok) AS DOUBLE) AS c
         FROM k GROUP BY 1, 2)"""

  /** Oracle input of the Holt smoothers: per-type daily cents sums `c`
    * (CTE `daily`) numbered by day (CTE `d`, column `rn`). */
  private val holtDailySql =
    """daily AS (SELECT event_type,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
             AS day,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
             AS DOUBLE) AS c
         FROM events GROUP BY 1, 2),
       d AS (SELECT event_type, day, c,
           row_number() OVER (PARTITION BY event_type
             ORDER BY day) AS rn
         FROM daily)"""

  /** Events with 30-minute-gap session ids per user in column `idName`
    * (the running count of session starts); the oracle is
    * [[sessionizeSql]]. */
  private def sessionIds(s: SparkSession, d: String, idName: String)
      : DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev(s, d)
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts") > col("__prev") + expr("INTERVAL 30 MINUTES"),
        lit(1)).otherwise(lit(0)))
      .withColumn(idName, sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Mann–Kendall S, pair count and tau per type from day pairs
    * (`s_a`, `n_a`, `s_b`, `n_b`), by the exact cross-multiplied sign;
    * the DuckDB twin is [[mannKendallTauSql]]. */
  private def kendallTau(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("event_type"))
      .agg(sum(signum(col("s_b") * col("n_a") - col("s_a") * col("n_b"))
          .cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
      .select(col("event_type"), col("s_stat"), col("n_pairs"),
        r6(col("s_stat").cast("double") / col("n_pairs")).as("tau"))

  /** Oracle tail of [[kendallTau]] over a preceding `p(event_type, sgn)`
    * CTE. */
  private val mannKendallTauSql =
    s"""SELECT event_type,
         CAST(sum(sgn) AS BIGINT) AS s_stat,
         count(*) AS n_pairs,
         ${Portable.r6Sql("CAST(sum(sgn) AS DOUBLE) / count(*)")} AS tau
       FROM p GROUP BY 1"""

  val queries: Seq[Q] = Seq(
    Q("win_lag",
      (s, d) => ScalableWindow.withTrailingColumns(
          ev(s, d), weekBucket, evOrder, 168)(
          "lag_1"   -> (w => lag(col("value"), 1).over(w)),
          "lag_24"  -> (w => lag(col("value"), 24).over(w)),
          "lag_168" -> (w => lag(col("value"), 168).over(w)))
        .select(col("event_id"), col("lag_1"), col("lag_24"), col("lag_168")),
      """SELECT event_id, lag(value, 1) OVER w AS lag_1,
                lag(value, 24) OVER w AS lag_24,
                lag(value, 168) OVER w AS lag_168
              FROM events WINDOW w AS (ORDER BY ts, event_id)"""),

    Q("win_rolling_avg",
      // the measure is scaled to integer cents first: rolling SUMS over
      // integers are exact in IEEE double under any accumulation order
      // (sliding-frame vs recompute), so the result is bit-identical
      // across engines at every scale factor — raw doubles differ in the
      // last ulp and flip 6-decimal rounding boundaries.
      // Each k-row avg is a difference of two GROWING frames
      // (unboundedPreceding .. 0 minus unboundedPreceding .. -k), which
      // Spark maintains incrementally at O(1)/row — a sliding frame
      // re-evaluates all k rows per output row. Numerator and
      // denominator subtract the same way (count, not row_number), so
      // the quotient is avg's exact sum/count on the exact integers.
      (s, d) => {
        def rollAvg(k: Int):
            org.apache.spark.sql.expressions.WindowSpec => Column = w => {
          val whole = w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)
          val before = w.rowsBetween(Window.unboundedPreceding, -k)
          val sm = sum(col("vc")).over(whole) -
            coalesce(sum(col("vc")).over(before), lit(0.0))
          val n = (count(col("vc")).over(whole) -
            coalesce(count(col("vc")).over(before), lit(0L))).cast("double")
          when(n > 0, sm / n / 100)
        }
        ScalableWindow.withTrailingColumns(
          ev(s, d).withColumn("vc", floor(col("value") * 100 + lit(0.5))),
          weekBucket, evOrder, 167)(
          "roll_24" -> rollAvg(24),
          "roll_168" -> rollAvg(168))
        // portable guarded floor-form round (r6): the exact-integer
        // quotient can land on a round(·,6) boundary double (r15 fuzz)
        .select(col("event_id"),
          r6(col("roll_24")).as("roll_24"),
          r6(col("roll_168")).as("roll_168"))
      },
      s"""SELECT event_id,
                ${Portable.r6Sql("r24")} AS roll_24,
                ${Portable.r6Sql("r168")} AS roll_168
              FROM (SELECT event_id,
                      avg(vc) OVER (w ROWS BETWEEN 23 PRECEDING
                        AND CURRENT ROW) / 100 AS r24,
                      avg(vc) OVER (w ROWS BETWEEN 167 PRECEDING
                        AND CURRENT ROW) / 100 AS r168
                    FROM (SELECT event_id, ts,
                            floor(value * 100 + 0.5) AS vc FROM events)
                    WINDOW w AS (ORDER BY ts, event_id))"""),

    Q("win_lag_over_agg",
      (s, d) => {
        // exact micro-unit integer sums: a raw-double day sum is
        // accumulation-order-sensitive AND its round(·,6) flips on
        // boundary doubles (r15 fuzz finding) — integer micro-units
        // sum exactly in any order and divide to the same double
        val daily = ev(s, d).groupBy(to_date(col("ts")).as("day"))
          .agg((sum(floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / lit(1e6)).as("total"))
        // post-aggregation cardinality is tiny (one row per day) — the
        // unpartitioned window is safe at any input scale
        daily.withColumn("prev_total",
            lag(col("total"), 1).over(Window.orderBy(col("day"))))
          .select(col("day"), col("total"), col("prev_total"))
      },
      """WITH dd AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e6 AS total
                          FROM events GROUP BY 1)
              SELECT day, total,
                lag(total, 1) OVER (ORDER BY day) AS prev_total
              FROM dd"""),

    Q("downsample_stride",
      (s, d) => ScalableRank.downsampleStride(ev(s, d), weekBucket, evOrder, 500)
        .select(col("event_id")),
      s"""WITH $eventRanksSql
              SELECT r.event_id FROM r, n
              WHERE (r.rn - 1) % CAST(ceil(n.n / 500.0) AS BIGINT) = 0"""),

    Q("win_rank_dense_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).select(col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
      },
      """SELECT o_orderkey,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey)"""),

    Q("win_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rk"))
      },
      """SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
              FROM orders
              QUALIFY rk <= 3"""),

    Q("win_sessionize",
      (s, d) => sessionIds(s, d, "session_id")
        .select(col("event_id"), col("user_id"), col("session_id")),
      sessionizeSql),

    // largest-triangle downsample to 6 h buckets per event_type — the
    // parallel LTOB variant of TimescaleDB's lttb (fixed neighbours, so
    // it fans out as partitioned windows; classic LTTB's
    // previously-selected anchor is inherently sequential)
    Q("downsample_lt3b",
      (s, d) => TimeSeries.largestTriangle(ev(s, d), col("event_type"),
        col("ts"), col("value"), col("event_id"), bucketSeconds = 21600L),
      """WITH p AS (SELECT event_type, ts, event_id, value,
                       make_timestamp(CAST(floor(epoch_us(ts) / 21600e6)
                         * 21600000000 AS BIGINT)) AS bucket,
                       epoch_us(ts) AS x,
                       lag(epoch_us(ts)) OVER w AS x0, lag(value) OVER w AS y0,
                       lead(epoch_us(ts)) OVER w AS x1, lead(value) OVER w AS y1
                     FROM events
                     WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
              a AS (SELECT event_type, bucket, ts, value,
                      row_number() OVER (PARTITION BY event_type, bucket
                        ORDER BY abs((x0 - x1) * (value - y0)
                          - (x0 - x) * (y1 - y0)) DESC NULLS LAST,
                        ts, event_id) AS rn
                    FROM p)
              SELECT event_type AS series, bucket, ts, value
              FROM a WHERE rn = 1"""),

    // cumulative-distribution window family: percent_rank + cume_dist
    // within order priority — tie-stable, so deterministic on doubles
    Q("win_cume_dist",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"))
        Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"),
          r6(percent_rank().over(w)).as("pr"),
          r6(cume_dist().over(w)).as("cd"))
      },
      s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
                ${Portable.r6Sql("percent_rank() OVER w")} AS pr,
                ${Portable.r6Sql("cume_dist() OVER w")} AS cd
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice)"""),

    // RANGE-frame window: trailing 6 h average per event_type — the
    // time-based frame (all peers within the interval, however many
    // rows) vs the ROWS frames elsewhere; partitioned, no global sort
    Q("win_time_range_avg",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(unix_micros(col("ts").cast("timestamp")))
          .rangeBetween(-21600000000L, 0)
        // RANGE-frame mean via exact micro-unit frame sums (the
        // documented RANGE-frame convention — engines walk the frame
        // in different orders; fuzz caught the raw-avg form flipping)
        ev(s, d).select(col("event_id"),
          (floor(sum(floor(col("value") * lit(1e6) + lit(0.5))).over(w)
            .cast("double") / count(lit(1)).over(w) + lit(0.5)) / lit(1e6))
            .as("avg_6h"),
          count(lit(1)).over(w).as("n_6h"))
      },
      """SELECT event_id,
                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                    OVER w AS DOUBLE) / (count(*) OVER w) + 0.5) / 1e6
                  AS avg_6h,
                CAST(count(*) OVER w AS BIGINT) AS n_6h
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)"""),

    // gaps-and-islands: longest consecutive purchase-day streak per user.
    // day − row_number() is constant within a run, so a run is one
    // (user, anchor) group — two user-keyed hash aggs + one per-user
    // window over post-distinct days, never over raw events
    Q("win_streak",
      (s, d) => EventAnalytics.dayStreaks(
        ev(s, d).filter(col("event_type") === "purchase"),
        col("user_id"), col("ts")),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events WHERE event_type = 'purchase'),
              a AS (SELECT user_id, d,
                      d - CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY d) AS INTEGER) AS anchor
                    FROM days),
              runs AS (SELECT user_id, anchor, count(*) AS len
                       FROM a GROUP BY 1, 2)
              SELECT user_id, CAST(sum(len) AS INTEGER) AS n_active_days,
                     CAST(max(len) AS INTEGER) AS longest_streak
              FROM runs GROUP BY user_id"""),

    // trailing 50-row rolling correlation of value with its lag-1 —
    // Pearson from six frame aggregates. Two scale choices: (a) the
    // integer-cents feed (the win_vwap recipe — Pearson is
    // scale-invariant, and integer sums are exact in ANY accumulation
    // order, so the 1e-6 round cannot flip between engines); (b) each
    // 50-row frame sum is a cumulative-sum difference, cum − lag(cum, 50)
    // — O(1) per row vs the sliding frame's full 50-row × 6-aggregate
    // re-evaluation per row, which made this the slowest sf1 query
    // (30 s → the cumsum trick is exact only BECAUSE the feed is
    // integer: double cumsums would cancel catastrophically)
    Q("win_rolling_corr",
      (s, d) => {
        val ord = Window.partitionBy(col("event_type"))
          .orderBy(evOrder: _*)
        val cum = ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val base = ev(s, d).select(col("event_id"), col("event_type"),
          col("ts"), round(col("value") * 100, 0).cast("long").as("xc"))
          .withColumn("yc", lag(col("xc"), 1).over(ord))
          .filter(col("yc").isNotNull)
        val c = base.select(col("event_id"), col("event_type"), col("ts"),
          row_number().over(ord).as("rn"),
          sum(col("xc")).over(cum).as("cx"),
          sum(col("yc")).over(cum).as("cy"),
          sum(col("xc") * col("yc")).over(cum).as("cxy"),
          sum(col("xc") * col("xc")).over(cum).as("cxx"),
          sum(col("yc") * col("yc")).over(cum).as("cyy"))
        // frame sum over rows (rn-49 .. rn) = cum(rn) − cum(rn-50);
        // long arithmetic, frame sums ≤ 50·(56021)² ≈ 1.6e11 — exact as
        // doubles (< 2^53), so the closed formula below is bit-identical
        // to the oracle's direct frame sums
        def fr(cc: String): Column =
          (col(cc) - coalesce(lag(col(cc), 50).over(ord), lit(0L)))
            .cast("double")
        val n = least(col("rn"), lit(50)).cast("double")
        val (sx, sy) = (fr("cx"), fr("cy"))
        val (sxy, sxx, syy) = (fr("cxy"), fr("cxx"), fr("cyy"))
        val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
        c.select(col("event_id"),
          when(den > 0,
            r6((n * sxy - sx * sy) / sqrt(den))).as("roll_corr"))
      },
      s"""WITH b AS (SELECT event_id, event_type,
                      round(value * 100, 0) AS x,
                      lag(round(value * 100, 0)) OVER (
                        PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS y,
                      CAST(ts AS TIMESTAMP) AS ts2
                    FROM events),
              w AS (SELECT event_id,
                      CAST(count(*) OVER f AS DOUBLE) AS n,
                      sum(x) OVER f AS sx, sum(y) OVER f AS sy,
                      sum(x * y) OVER f AS sxy,
                      sum(x * x) OVER f AS sxx,
                      sum(y * y) OVER f AS syy
                    FROM b WHERE y IS NOT NULL
                    WINDOW f AS (PARTITION BY event_type
                      ORDER BY ts2, event_id
                      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
              SELECT event_id,
                CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                  THEN ${Portable.r6Sql("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")}
                END AS roll_corr
              FROM w"""),

    // time-to-next-error per event (reliability/churn analytics): a
    // running min of error timestamps over the REVERSED per-user order,
    // frame ending 1 PRECEDING so "next" is strictly after — one
    // partitioned window, exact µs arithmetic
    Q("win_time_to_event",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        ev(s, d).select(col("event_id"), col("event_type"),
          col("ts"),
          min(when(col("event_type") === "error", col("ts"))).over(w)
            .as("__next_err"))
          .select(col("event_id"), col("event_type"),
            ((unix_micros(col("__next_err").cast("timestamp")) -
              unix_micros(col("ts").cast("timestamp"))) / lit(1e6))
              .as("secs_to_error"))
      },
      """WITH x AS (SELECT event_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      min(CASE WHEN event_type = 'error'
                            THEN CAST(ts AS TIMESTAMP) END)
                        OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP) DESC,
                            event_id DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS next_err
                    FROM events)
              SELECT event_id, event_type,
                (epoch_us(next_err) - epoch_us(ts2)) / 1e6 AS secs_to_error
              FROM x"""),

    // maximum drawdown per user: running max then the largest drop from
    // it — two stacked windows on the same (user, time) partition order,
    // every step exact (max/subtract of raw doubles), no rounding needed
    Q("win_drawdown",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d).select(col("user_id"), col("value"),
          max(col("value")).over(w).as("__peak"))
          .groupBy(col("user_id"))
          .agg(max(col("__peak") - col("value")).as("max_drawdown"),
            max(col("__peak")).as("peak"))
      },
      """WITH x AS (SELECT user_id, value,
                      max(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
                    FROM events)
              SELECT user_id, max(peak - value) AS max_drawdown,
                     max(peak) AS peak
              FROM x GROUP BY user_id"""),

    // local-minima detection (the price-dip scan of the reference's
    // domain): value strictly below both neighbours in the user's
    // (ts, event_id) order — one partitioned lag/lead window, then a
    // user-keyed count; min is exact so no rounding needed
    Q("win_dip_count",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, d).select(col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("__pv"),
          lead(col("value"), 1).over(w).as("__nv"))
          .filter(col("value") < col("__pv") && col("value") < col("__nv"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("int").as("n_dips"),
            min(col("value")).as("min_dip"))
      },
      """WITH x AS (SELECT user_id, value,
                  lag(value) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv,
                  lead(value) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nv
                FROM events)
              SELECT user_id, CAST(count(*) AS INTEGER) AS n_dips,
                     min(value) AS min_dip
              FROM x WHERE value < pv AND value < nv GROUP BY 1"""),

    // trailing 25-row EXACT median per user (robust rolling level of a
    // noisy measure) — the percentile aggregate over a user-partitioned
    // ROWS frame; no global sort, frame buffer bounded at 25 rows
    // rounding in portable floor form, NOT round(.,6): the interpolated
    // median can land exactly on a …5e-7 boundary (seeded fuzzing found
    // flips at maxdiff exactly 1e-6 — Spark BigDecimal HALF_UP vs
    // DuckDB C round on the same double)
    Q("win_rolling_median",
      (s, d) => ev(s, d).select(col("event_id"), col("user_id"),
        col("value"),
        (floor(expr("percentile(value, 0.5D) OVER (PARTITION BY user_id " +
          "ORDER BY ts, event_id ROWS BETWEEN 24 PRECEDING AND CURRENT " +
          "ROW)") * lit(1e6) + lit(0.5)) / lit(1e6)).as("roll_median")),
      """SELECT event_id, user_id, value,
                floor(median(value) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
                  * 1e6 + 0.5) / 1e6 AS roll_median
              FROM events"""),

    // trailing 20-row EWMA, α = 0.5 — weights 2^−k are exact binary
    // fractions and the fold order is pinned on both engines, so the
    // float arithmetic is engine-replicable (see TimeSeries.ewmaTrailing).
    // Nulls are PLANTED (event_id % 13) so the null-exclusion contract —
    // collect_list drops nulls, all-null frame → NULL — is hash-checked,
    // not just documented: the oracle's FILTER replicates the drop
    Q("win_ewma",
      (s, d) => TimeSeries.ewmaTrailing(
        ev(s, d).withColumn("value",
          when(col("event_id") % 13 === 0, lit(null)).otherwise(col("value"))),
        col("user_id"), col("ts"), col("event_id"), col("value"),
        frameRows = 20, alpha = 0.5)
        .select(col("event_id"), col("ewma")),
      s"""WITH src AS (SELECT event_id, user_id,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
                    FROM events),
              t AS (SELECT event_id,
                      list(v) FILTER (v IS NOT NULL) OVER (PARTITION BY user_id
                        ORDER BY ts2, event_id
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
                    FROM src)
              SELECT event_id,
                CASE WHEN len(l) = 0 THEN NULL ELSE
                  ${Portable.r6Sql("list_reduce(list_transform(generate_series(1, len(l)), i -> l[i] * power(0.5, len(l) - i)), (a, b) -> a + b) * 0.5 / (1 - power(0.5, len(l)))")} END AS ewma
              FROM t"""),

    // share-of-total: each nation's revenue as a fraction of its
    // region's — a window OVER AGGREGATE OUTPUT (25 rows), so the
    // partition-less-looking window is dimension-sized, never data-sized
    Q("win_share_of_total",
      (s, d) => {
        val w = Window.partitionBy(col("r_name"))
        ordersByRegion(s, d)
          .groupBy(col("n_name"), col("r_name"))
          .agg(r6(sum(col("o_totalprice"))).as("revenue"))
          .withColumn("region_share",
            r6(col("revenue") / sum(col("revenue")).over(w)))
      },
      s"""WITH rev AS (SELECT n.n_name, r.r_name,
                      ${Portable.r6Sql("sum(o.o_totalprice)")} AS revenue
                    FROM orders o
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
                    GROUP BY 1, 2)
              SELECT n_name, r_name, revenue,
                ${Portable.r6Sql("revenue / sum(revenue) OVER (PARTITION BY r_name)")}
                  AS region_share
              FROM rev"""),

    // Bollinger bands over a 20-row trailing frame, k = 2 — stddev from
    // explicit frame sums so both engines evaluate one closed formula
    // integer-cents feed (the win_vwap recipe): frame sums of
    // integer-valued doubles are exact in ANY accumulation order, so
    // Spark's row-order frame evaluation and DuckDB's segment-tree
    // combine cannot diverge by an ulp and flip the 1e-6 round on a
    // boundary; bands are computed at cents scale and rescaled at the end
    Q("win_bollinger",
      (s, d) => TimeSeries.bollinger(
        ev(s, d).withColumn("vc", round(col("value") * 100, 0)),
        col("user_id"), col("ts"), col("event_id"), col("vc"),
        frameRows = 20, k = 2.0, outDiv = 100.0)
        .select(col("event_id"), col("mid"), col("upper"), col("lower"),
          col("breakout")),
      s"""WITH t AS (SELECT event_id, vc,
                      CAST(count(*) OVER w AS DOUBLE) AS n,
                      sum(vc) OVER w AS sx,
                      sum(vc * vc) OVER w AS sxx
                    FROM (SELECT event_id, user_id,
                            CAST(ts AS TIMESTAMP) AS ts2,
                            round(value * 100, 0) AS vc FROM events)
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
              f AS (SELECT event_id, vc, sx / n AS mean,
                      sqrt(CASE WHEN n > 1
                        THEN greatest((sxx - sx * sx / n) / (n - 1), 0)
                        ELSE 0 END) AS sd
                    FROM t)
              SELECT event_id, ${Portable.r6Sql("mean / 100")} AS mid,
                ${Portable.r6Sql("(mean + 2 * sd) / 100")} AS upper,
                ${Portable.r6Sql("(mean - 2 * sd) / 100")} AS lower,
                CASE WHEN ${Portable.r6Sql("vc / 100")} > ${Portable.r6Sql("(mean + 2 * sd) / 100")}
                    OR ${Portable.r6Sql("vc / 100")} < ${Portable.r6Sql("(mean - 2 * sd) / 100")}
                  THEN 1 ELSE 0 END AS breakout
              FROM f"""),

    // RSI-14 (simple-average form): 100·G/(G+L) over one-step diffs;
    // flat/first frames report NULL
    Q("win_rsi",
      (s, d) => TimeSeries.rsi(ev(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"), frameRows = 14)
        .select(col("event_id"), col("rsi")),
      s"""WITH d AS (SELECT event_id, user_id,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      value - lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS df
                    FROM events),
              t AS (SELECT event_id,
                      sum(CASE WHEN df > 0 THEN df ELSE 0 END) OVER w AS g,
                      sum(CASE WHEN df < 0 THEN -df ELSE 0 END) OVER w AS l
                    FROM d
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts2, event_id
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              SELECT event_id,
                CASE WHEN g + l = 0 THEN NULL
                  ELSE ${Portable.r6Sql("100 * g / (g + l)")} END AS rsi
              FROM t"""),

    // rolling volume-weighted average price over 20 rows; synthetic
    // per-event weight (event_id mod 7 + 1) stands in for volume.
    // Prices feed in as exact integer CENTS (values are 2-decimal), so
    // the frame sums are order-free integer arithmetic — engines sum
    // window frames in different orders, and a raw double sum landed a
    // vwap exactly on a 1e-6 rounding boundary
    Q("win_vwap",
      (s, d) => TimeSeries.vwap(
        ev(s, d)
          .withColumn("w", (col("event_id") % 7 + 1).cast("double"))
          .withColumn("vc", round(col("value") * 100, 0)),
        col("user_id"), col("ts"), col("event_id"), col("vc"),
        col("w"), frameRows = 20)
        .select(col("event_id"), r6(col("vwap") / 100).as("vwap")),
      s"""WITH b AS (SELECT event_id, user_id,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      round(value * 100, 0) AS vc,
                      CAST(event_id % 7 + 1 AS DOUBLE) AS w
                    FROM events),
                   r AS (SELECT event_id,
                      sum(vc * w) OVER fr / sum(w) OVER fr AS x
                    FROM b
                    WINDOW fr AS (PARTITION BY user_id
                      ORDER BY ts2, event_id
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
                   v AS (SELECT event_id,
                      ${Portable.r6Sql("x")} / 100 AS y
                    FROM r)
              SELECT event_id,
                ${Portable.r6Sql("y")} AS vwap
              FROM v"""),

    // trailing-24 rolling z-score on integer cents: frame sums via
    // growing-frame differences (O(1)/row; a sliding ROWS frame
    // re-scans all 24 rows per output row), exact in any accumulation
    // order; the oracle's sliding frame computes bit-identical S/SS/n
    // and the SAME downstream operation tree (see rollingZscore doc)
    Q("win_rolling_zscore",
      (s, d) => TimeSeries.rollingZscore(
        evCents(s, d),
        col("event_type"), col("ts"), col("event_id"), col("__vc"),
        frameRows = 24)
        .select(col("event_id"), col("zscore")),
      s"""WITH src AS (SELECT event_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events),
              f AS (SELECT event_id, c,
                      CAST(sum(c) OVER w AS DOUBLE) AS s,
                      CAST(count(c) OVER w AS DOUBLE) AS n,
                      CAST(sum(c * c) OVER w AS DOUBLE) AS ss
                    FROM src
                    WINDOW w AS (PARTITION BY event_type
                      ORDER BY ts2, event_id
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
              SELECT event_id,
                CASE WHEN n < 2 OR (ss - s * (s / n)) / (n - 1) <= 0
                  THEN NULL
                  ELSE ${Portable.r6Sql("(c - s / n) / sqrt((ss - s * (s / n)) / (n - 1))")}
                END AS zscore
              FROM f"""),

    // one-sided CUSUM drift statistic vs the per-type integer mean:
    // S⁺_t = max(0, S⁺_{t−1} + dev) via its closed form
    // cum − running-min(cum) — two growing frames instead of a
    // sequential recursion, exact integer cents end-to-end
    Q("win_cusum",
      (s, d) => TimeSeries.cusum(
        evCents(s, d),
        col("event_type"), col("ts"), col("event_id"), col("__vc"))
        .select(col("event_id"), col("cusum_pos")),
      cusumOracleSql),

    // MACD 12/26/9 over the per-type daily-mean series — the EMA
    // recursion run as the LITERAL iteration on both engines (ordered
    // fold here, recursive CTE there): same IEEE op sequence, same α
    // literals, bit-identical intermediates (no pow, no order-dependent
    // float sums; see TimeSeries.macd)
    Q("win_macd",
      (s, d) => TimeSeries.macd(
        evCents(s, d),
        col("event_type"), col("ts"), col("__vc"),
        keyName = "event_type"),
      s"""WITH RECURSIVE daily AS (SELECT event_type,
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS DOUBLE) / count(*) AS c
                    FROM events GROUP BY 1, 2),
              d AS (SELECT event_type, day, c,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY day) AS rn
                    FROM daily),
              rec AS (
                SELECT event_type, rn, day, c,
                    c AS ema_fast, c AS ema_slow,
                    CAST(0.0 AS DOUBLE) AS sig
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.event_type, d.rn, d.day, d.c,
                    (2.0 / 13.0) * d.c + (11.0 / 13.0) * r.ema_fast,
                    (2.0 / 27.0) * d.c + (25.0 / 27.0) * r.ema_slow,
                    (2.0 / 10.0) * (((2.0 / 13.0) * d.c
                        + (11.0 / 13.0) * r.ema_fast)
                      - ((2.0 / 27.0) * d.c + (25.0 / 27.0) * r.ema_slow))
                      + (8.0 / 10.0) * r.sig
                FROM d JOIN rec r ON d.event_type = r.event_type
                  AND d.rn = r.rn + 1)
              SELECT event_type, day,
                ${Portable.r6Sql("ema_fast - ema_slow")} AS macd,
                ${Portable.r6Sql("sig")} AS signal
              FROM rec"""),

    // Holt linear (level + trend) smoothing over per-type daily cents
    // sums — the trend-aware member of the smoothing family (EWMA and
    // MACD lack an explicit trend state). Literal recursion ↔ recursive
    // CTE, dyadic coefficients: zero fp-transcendental hash risk.
    Q("win_holt_linear",
      (s, d) => TimeSeries.holtLinear(
        evCents(s, d),
        col("event_type"), col("ts"), col("__vc"),
        keyName = "event_type"),
      s"""WITH RECURSIVE $holtDailySql,
              rec AS (
                SELECT event_type, rn, day, c, c AS lvl,
                    CAST(0.0 AS DOUBLE) AS trend
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.event_type, d.rn, d.day, d.c,
                    0.5 * d.c + 0.5 * (r.lvl + r.trend),
                    0.5 * ((0.5 * d.c + 0.5 * (r.lvl + r.trend)) - r.lvl)
                      + 0.5 * r.trend
                FROM d JOIN rec r ON d.event_type = r.event_type
                  AND d.rn = r.rn + 1)
              SELECT event_type, day, ${Portable.r6Sql("lvl")} AS level,
                ${Portable.r6Sql("trend")} AS trend,
                ${Portable.r6Sql("lvl + trend")} AS forecast_1
              FROM rec"""),

    // trailing-24 OLS slope vs the per-type row index: five exact
    // integer frame sums via growing-frame differences (O(1)/row),
    // exact long numerator/denominator, one division at the edge.
    Q("win_rolling_beta",
      (s, d) => TimeSeries.rollingBeta(
        evCents(s, d),
        col("event_type"), col("ts"), col("event_id"), col("__vc"),
        frameRows = 24)
        .select(col("event_id"), col("beta")),
      s"""WITH src AS (SELECT event_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts2,
                      CAST(round(value * 100, 0) AS BIGINT) AS y
                    FROM events),
              x AS (SELECT event_id, event_type, y,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY ts2, event_id) AS xi
                    FROM src),
              f AS (SELECT event_id,
                      count(*) OVER w AS n,
                      sum(xi) OVER w AS sx, sum(y) OVER w AS sy,
                      sum(xi * xi) OVER w AS sxx,
                      sum(xi * y) OVER w AS sxy
                    FROM x
                    WINDOW w AS (PARTITION BY event_type ORDER BY xi
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
              SELECT event_id,
                CASE WHEN n < 2 OR n * sxx - sx * sx = 0 THEN NULL
                  ELSE ${Portable.r6Sql("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)")}
                END AS beta
              FROM f"""),

    // additive Holt–Winters (level + trend + weekly seasonality), the
    // seasonal completion of the smoothing family: one uniform dyadic
    // update rule on both engines, state = period+2 doubles per key.
    Q("win_holt_winters",
      (s, d) => TimeSeries.holtWinters(
        evCents(s, d),
        col("event_type"), col("ts"), col("__vc"),
        period = 7, keyName = "event_type"),
      s"""WITH RECURSIVE $holtDailySql,
              init AS (SELECT event_type, sum(c) / 7 AS l0,
                         list_transform(list(c ORDER BY rn),
                           x -> x - sum(c) / 7) AS s0
                       FROM d WHERE rn <= 7 GROUP BY event_type),
              rec AS (
                SELECT d.event_type, d.rn, d.day, d.c,
                    0.5 * (d.c - i.s0[1]) + 0.5 * (i.l0 + 0.0) AS lvl,
                    0.5 * ((0.5 * (d.c - i.s0[1]) + 0.5 * (i.l0 + 0.0))
                      - i.l0) + 0.5 * 0.0 AS trend,
                    list_append(i.s0[2:7],
                      0.5 * (d.c - (0.5 * (d.c - i.s0[1])
                        + 0.5 * (i.l0 + 0.0))) + 0.5 * i.s0[1]) AS seas
                FROM d JOIN init i USING (event_type) WHERE d.rn = 1
                UNION ALL
                SELECT d.event_type, d.rn, d.day, d.c,
                    0.5 * (d.c - r.seas[1]) + 0.5 * (r.lvl + r.trend),
                    0.5 * ((0.5 * (d.c - r.seas[1])
                      + 0.5 * (r.lvl + r.trend)) - r.lvl) + 0.5 * r.trend,
                    list_append(r.seas[2:7],
                      0.5 * (d.c - (0.5 * (d.c - r.seas[1])
                        + 0.5 * (r.lvl + r.trend))) + 0.5 * r.seas[1])
                FROM d JOIN rec r ON d.event_type = r.event_type
                  AND d.rn = r.rn + 1)
              SELECT event_type, day, ${Portable.r6Sql("lvl")} AS level,
                ${Portable.r6Sql("trend")} AS trend,
                ${Portable.r6Sql("lvl + trend + seas[1]")} AS forecast_1
              FROM rec"""),

    // Peak-concurrency profile (capacity planning over sessionized
    // traffic): sessions = win_sessionize's 30-min-gap contract; each
    // session becomes a +1/-1 point pair (closed intervals: starts
    // order before ends at equal timestamps), the running sum goes
    // through ScalableRank.globalPrefixSum (bucketed — no global
    // single-partition sort), and the per-day MAX of the sweep is
    // order-invariant within tied blocks, so the result is exact.
    Q("win_max_concurrency",
      (s, d) => {
        val sess = sessionIds(s, d, "sid")
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        // one sessionize pass (r18): each session explodes into its
        // ±1 point pair in-row — the old two-branch union re-ran the
        // whole session window pipeline once per branch
        val pts = sess
          .select(explode(array(
            struct(col("st").as("t"), lit(0).as("ord"), lit(1L).as("delta")),
            struct(col("en").as("t"), lit(1).as("ord"), lit(-1L).as("delta"))))
            .as("__p"))
          .select(col("__p.t").as("t"), col("__p.ord").as("ord"),
            col("__p.delta").as("delta"))
        ScalableRank.globalPrefixSum(pts, to_date(col("t")),
            Seq(col("t"), col("ord")), col("delta"), "conc",
            inclusive = true)
          .groupBy(to_date(col("t")).as("day"))
          .agg(max(col("conc")).as("max_concurrent"))
      },
      """WITH t AS (SELECT user_id, event_id,
                  CAST(ts AS TIMESTAMP) AS ts2,
                  lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
                FROM events),
              s AS (SELECT user_id, ts2,
                  sum(CASE WHEN p IS NULL
                      OR ts2 > p + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts2, event_id
                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM t),
              sess AS (SELECT user_id, sid, min(ts2) AS st, max(ts2) AS en
                FROM s GROUP BY 1, 2),
              pts AS (SELECT st AS t, 0 AS ord, 1 AS delta FROM sess
                UNION ALL SELECT en, 1, -1 FROM sess),
              run AS (SELECT t, sum(delta) OVER (ORDER BY t, ord
                  ROWS UNBOUNDED PRECEDING) AS conc FROM pts)
              SELECT CAST(date_trunc('day', t) AS DATE) AS day,
                CAST(max(conc) AS BIGINT) AS max_concurrent
              FROM run GROUP BY 1"""),

    // Mann–Kendall trend test: S = Σ_{i<j} sign(m_j − m_i) over the
    // daily mean series, plus Kendall's tau = S / C(n,2) — the
    // standard nonparametric "is this metric drifting" audit (no
    // distribution assumption, robust to outliers). sign via
    // sign(s_j·n_i − s_i·n_j): exact integers, no float mean ever
    // compared.
    Q("win_mann_kendall",
      (s, d) => {
        val daily = graft.ops.Guards.assertGroupSizeBound(
          dailyCents(s, d), graft.ops.Guards.MaxPairGrainRows,
          "win_mann_kendall", col("event_type"))
        val a = daily.select(col("event_type"), col("day").as("day_a"),
          col("s").as("s_a"), col("n").as("n_a"))
        val b = daily.select(col("event_type"), col("day").as("day_b"),
          col("s").as("s_b"), col("n").as("n_b"))
        kendallTau(
          a.join(b, Seq("event_type")).filter(col("day_a") < col("day_b")))
      },
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              p AS (SELECT a.event_type,
                  sign(b.s * a.n - a.s * b.n) AS sgn
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.day < b.day)
              $mannKendallTauSql"""),

    // Seasonal Mann–Kendall: the trend statistic computed WITHIN each
    // day-of-week stratum and summed — the standard correction when
    // the series has a weekly cycle (plain MK reads the cycle itself
    // as trend). Same exact-integer sign contract as win_mann_kendall;
    // the pair join adds a stratum equality, shrinking it.
    Q("win_seasonal_mk",
      (s, d) => {
        val daily = dailyCents(s, d)
          .withColumn("dow", ScalarFns.dowPg(col("day")
            .cast("timestamp")))
        val a = daily.select(col("event_type"), col("dow"),
          col("day").as("day_a"), col("s").as("s_a"), col("n").as("n_a"))
        val b = daily.select(col("event_type"), col("dow"),
          col("day").as("day_b"), col("s").as("s_b"), col("n").as("n_b"))
        kendallTau(a.join(b, Seq("event_type", "dow"))
          .filter(col("day_a") < col("day_b")))
      },
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  dayofweek(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS dow,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
                  count(*) AS n
                FROM events GROUP BY 1, 2, 3),
              p AS (SELECT a.event_type,
                  sign(b.s * a.n - a.s * b.n) AS sgn
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.dow = b.dow
                    AND a.day < b.day)
              $mannKendallTauSql"""),

    // Expanding (inception-to-date) mean and sample std of the daily
    // exact-cents revenue per type — the anomaly baseline that uses
    // ALL history, vs the rolling family's fixed lookback. Exact
    // integer daily totals keep the expanding sums drift-free; the
    // n=1 std is pinned to 0 on both engines (Spark NaN vs DuckDB
    // NULL otherwise).
    Q("win_expanding_stats",
      (s, d) => {
        // expanding mean/std from EXACT integer frame sums end to end:
        // the daily totals were already exact cents, but averaging the
        // cents/100 doubles re-introduced order-sensitive float sums —
        // full-surface fuzzing caught the mean flipping at a .5e-6
        // boundary. Σc as long, Σc² as decimal(38,0) (c² outgrows a
        // long at corpus scale), variance numerator n·Σc²−(Σc)² exact,
        // ONE double conversion + division + sqrt.
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .as("revc"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val n = count(lit(1)).over(w)
        val sc = sum(col("revc")).over(w)
        val scc = sum((col("revc").cast("decimal(19,0)") *
          col("revc").cast("decimal(19,0)")).cast("decimal(38,0)")).over(w)
        val num = n.cast("decimal(38,0)") * scc -
          (sc.cast("decimal(19,0)") * sc.cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        daily.select(col("event_type"), col("day"),
          (floor(sc.cast("double") / n * lit(1e4) + lit(0.5)) / lit(1e6))
            .as("exp_mean"),
          when(n === 1, lit(0.0))
            .otherwise(floor(
              sqrt(num.cast("double") / (n * (n - lit(1)))) * lit(1e4) +
                lit(0.5)) / lit(1e6))
            .as("exp_std"))
      },
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(floor(value*100+0.5) AS BIGINT)) AS revc
                FROM events GROUP BY 1, 2),
              win AS (SELECT event_type, day,
                  count(*) OVER w AS n,
                  sum(revc) OVER w AS sc,
                  sum(CAST(revc AS HUGEINT) * revc) OVER w AS scc
                FROM daily WINDOW w AS (PARTITION BY event_type
                  ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              SELECT event_type, day,
                floor(CAST(sc AS DOUBLE) / n * 1e4 + 0.5) / 1e6
                  AS exp_mean,
                CASE WHEN n = 1 THEN 0.0
                  ELSE floor(sqrt(
                    CAST(n * scc - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                      / (n * (n - 1))) * 1e4 + 0.5) / 1e6 END AS exp_std
              FROM win"""),

    // Rolling percentile rank: where does this hour's revenue sit
    // within its own trailing day? The 24-deep frame is collected per
    // row (collect_list over a ROWS frame — bounded at 24 elements by
    // construction, the documented contract for list-frame windows)
    // and ranked with one codegen'd lambda; partitions are per type.
    Q("win_rolling_pct_rank",
      (s, d) => {
        val h = hourlyCentsSeries(s, d)
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-23, Window.currentRow)
        h.select(col("event_type"), col("hr"),
          r6(size(filter(collect_list(col("y")).over(w),
              x => x <= col("y"))) /
            size(collect_list(col("y")).over(w)).cast("double"))
            .as("pct_rank"))
      },
      s"""WITH $hourlyCentsSql,
              l AS (SELECT event_type, hr, y,
                  list(y) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS w
                FROM h)
              SELECT event_type, hr,
                ${Portable.r6Sql("len(list_filter(w, x -> x <= y)) * 1.0 / len(w)")}
                  AS pct_rank
              FROM l"""),

    // Hampel filter: flag |x − rolling median| > 3·1.4826·rolling MAD
    // over a 25-deep frame per series — the robust spike detector that
    // survives the spikes it hunts (a z-score's own mean/std are
    // dragged by the outlier; the median/MAD pair is not). The frame
    // is a bounded 25-element collect_list; median and MAD come from
    // two array sorts per row, all codegen'd, partitions per user.
    Q("win_hampel_outlier",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(evOrder: _*)
          .rowsBetween(-24, Window.currentRow)
        ev(s, d)
          .select(col("event_id"), col("value"),
            collect_list(col("value")).over(w).as("w"))
          .withColumn("s", expr("array_sort(w)"))
          .withColumn("n", size(col("w")))
          .withColumn("med", expr(
            "(element_at(s, CAST((n+1) div 2 AS INT)) + " +
              "element_at(s, CAST(n div 2 + 1 AS INT))) / 2.0"))
          .withColumn("sd", expr(
            "array_sort(transform(w, x -> abs(x - med)))"))
          .withColumn("mad", expr(
            "(element_at(sd, CAST((n+1) div 2 AS INT)) + " +
              "element_at(sd, CAST(n div 2 + 1 AS INT))) / 2.0"))
          // portable floor rounding — the two-element median average
          // of 6-decimal fuzz values lands exactly on .5e-6 boundaries
          .select(col("event_id"),
            (floor(col("med") * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("roll_med"),
            (floor(col("mad") * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("roll_mad"),
            when(col("mad") > 0 &&
              abs(col("value") - col("med")) > lit(3) * lit(1.4826) *
                col("mad"), 1).otherwise(0).as("is_outlier"))
      },
      """WITH l AS (SELECT event_id, user_id, value,
                  list(value) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS w
                FROM events),
              m AS (SELECT event_id, value, w, list_sort(w) AS s,
                  len(w) AS n FROM l),
              m2 AS (SELECT event_id, value, w, n,
                  (s[CAST((n+1)//2 AS INTEGER)] +
                   s[CAST(n//2 + 1 AS INTEGER)]) / 2.0 AS med FROM m),
              m3 AS (SELECT event_id, value, med, n,
                  list_sort(list_transform(w, x -> abs(x - med))) AS sd
                FROM m2),
              m4 AS (SELECT event_id, value, med,
                  (sd[CAST((n+1)//2 AS INTEGER)] +
                   sd[CAST(n//2 + 1 AS INTEGER)]) / 2.0 AS mad FROM m3)
              SELECT event_id, floor(med * 1e6 + 0.5) / 1e6 AS roll_med,
                floor(mad * 1e6 + 0.5) / 1e6 AS roll_mad,
                CASE WHEN mad > 0 AND abs(value - med) > 3 * 1.4826 * mad
                  THEN 1 ELSE 0 END AS is_outlier
              FROM m4"""),

    // Heikin-Ashi smoothed candles — the recursive candle transform
    // traders read trends from; see TimeSeries.heikinAshi for the
    // fold/recursive-CTE exactness contract.
    Q("win_heikin_ashi",
      (s, d) => TimeSeries.heikinAshi(
        evFloorCents(s, d),
        col("event_type"), col("ts"), col("__vc"), col("event_id"),
        keyName = "event_type"),
      s"""WITH RECURSIVE $candleTicksSql,
              daily AS (SELECT event_type, day,
                  CAST(arg_min(vc, ok) AS DOUBLE) AS o,
                  CAST(max(vc) AS DOUBLE) AS h,
                  CAST(min(vc) AS DOUBLE) AS l,
                  CAST(arg_max(vc, ok) AS DOUBLE) AS c
                FROM k GROUP BY 1, 2),
              d AS (SELECT *, (o+h+l+c)/4.0 AS hc,
                  row_number() OVER (PARTITION BY event_type ORDER BY day)
                    AS rn FROM daily),
              rec AS (
                SELECT event_type, rn, day, o, h, l, hc, o AS ho
                FROM d WHERE rn = 1
                UNION ALL
                SELECT d.event_type, d.rn, d.day, d.o, d.h, d.l, d.hc,
                    (r.ho + r.hc) / 2.0 AS ho
                FROM d JOIN rec r ON d.event_type = r.event_type
                  AND d.rn = r.rn + 1)
              SELECT event_type, day, ${Portable.r6Sql("ho")} AS ha_open,
                ${Portable.r6Sql("hc")} AS ha_close,
                ${Portable.r6Sql("greatest(h, ho, hc)")} AS ha_high,
                ${Portable.r6Sql("least(l, ho, hc)")} AS ha_low
              FROM rec"""),

    // RANGE frame over the VALUE order (±5 units of the current row's
    // value, not ±5 rows / seconds) — the neighborhood-density window
    // the time-RANGE family can't express. Completes the frame-type
    // coverage: ROWS, time-RANGE, and value-RANGE.
    // The frame runs over the grouped (type, value) SUPPORT, not the
    // raw rows — equal values share one neighborhood, so the window
    // walks a distinct-value dim instead of the corpus (the corpus
    // pass is one keyed aggregate + one equi-join back). Exact
    // integer-cents sums keep the average order-independent, and the
    // portable floor-form round finishes it (engine round() builtins
    // disagree on boundary doubles — see f_round).
    Q("win_value_range_sum",
      (s, d) => {
        val g = ev(s, d)
          .groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("ct"),
            sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
              .as("sc"))
        val near = g.select(col("event_type"), col("value"),
          expr("sum(ct) OVER (PARTITION BY event_type ORDER BY value " +
            "RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)").as("n_near"),
          (floor(expr("sum(sc) OVER (PARTITION BY event_type " +
            "ORDER BY value RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)")
            .cast("double") /
            expr("sum(ct) OVER (PARTITION BY event_type ORDER BY value " +
              "RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)") / 100.0 *
            lit(1e6) + lit(0.5)) / lit(1e6)).as("avg_near"))
        ev(s, d).select(col("event_id"), col("event_type"), col("value"))
          .join(near, Seq("event_type", "value"))
          .select(col("event_id"), col("n_near"), col("avg_near"))
      },
      """SELECT event_id,
                count(*) OVER (PARTITION BY event_type ORDER BY value
                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS n_near,
                floor(avg(floor(value * 100 + 0.5)) OVER
                  (PARTITION BY event_type ORDER BY value
                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) / 100.0
                  * 1000000 + 0.5) / 1000000 AS avg_near
              FROM events"""),

    // Stochastic oscillator %K/%D over the daily cents candles —
    // where does today's close sit inside the trailing-14-day range.
    // Exact integer extremes; flat-range days pin %K to 50 on both
    // engines; the 3-SMA and the output go through the portable
    // floor-form round.
    Q("win_stochastic_oscillator",
      (s, d) => {
        val daily = dailyCandles(s, d)
        val fr = Window.partitionBy(col("series")).orderBy(col("bucket"))
          .rowsBetween(-13, Window.currentRow)
        val w3 = Window.partitionBy(col("series")).orderBy(col("bucket"))
          .rowsBetween(-2, Window.currentRow)
        def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        val k = daily.select(col("series").as("event_type"),
            col("bucket").as("day"), col("close"),
            min(col("low")).over(fr).as("lo"),
            max(col("high")).over(fr).as("hi"))
          .withColumn("k", when(col("hi") === col("lo"), lit(50.0))
            .otherwise(lit(100.0) * (col("close") - col("lo")) /
              (col("hi") - col("lo"))))
        k.select(col("event_type"), col("day"),
          r6(col("k")).as("pct_k"),
          r6(avg(col("k")).over(Window.partitionBy(col("event_type"))
            .orderBy(col("day")).rowsBetween(-2, Window.currentRow)))
            .as("pct_d"))
      },
      s"""WITH $dailyHlcSql,
              w AS (SELECT event_type, day, c,
                  min(l) OVER fr AS lo, max(h) OVER fr AS hi
                FROM daily WINDOW fr AS (PARTITION BY event_type
                  ORDER BY day
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
              pk AS (SELECT event_type, day,
                  CASE WHEN hi = lo THEN 50.0
                    ELSE 100.0 * (c - lo) / (hi - lo) END AS k
                FROM w)
              SELECT event_type, day,
                floor(k * 1000000 + 0.5) / 1000000 AS pct_k,
                floor(avg(k) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  * 1000000 + 0.5) / 1000000 AS pct_d
              FROM pk"""),

    // Average True Range: TR = max(H−L, |H−prevC|, |L−prevC|) over the
    // daily cents candles, 14-day rolling mean — the gap-aware
    // volatility the plain daily range understates. First day falls
    // back to H−L (prevC := C) on both engines.
    Q("win_atr",
      (s, d) => {
        val daily = dailyCandles(s, d)
        val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
        val prevC = coalesce(lag(col("close"), 1).over(w), col("close"))
        val tr = daily.select(col("series").as("event_type"),
          col("bucket").as("day"),
          greatest(col("high") - col("low"),
            abs(col("high") - prevC), abs(col("low") - prevC)).as("tr"))
        tr.select(col("event_type"), col("day"), col("tr"),
          (floor(avg(col("tr")).over(
            Window.partitionBy(col("event_type")).orderBy(col("day"))
              .rowsBetween(-13, Window.currentRow)) * lit(1e6) +
            lit(0.5)) / lit(1e6)).as("atr14"))
      },
      s"""WITH $dailyHlcSql,
              tr AS (SELECT event_type, day,
                  greatest(h - l,
                    abs(h - coalesce(lag(c) OVER w, c)),
                    abs(l - coalesce(lag(c) OVER w, c))) AS tr
                FROM daily WINDOW w AS (PARTITION BY event_type
                  ORDER BY day))
              SELECT event_type, day, tr,
                floor(avg(tr) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
                  * 1000000 + 0.5) / 1000000 AS atr14
              FROM tr"""),

    // Floor-trader pivot points from the PREVIOUS day's candle
    // (P = (H+L+C)/3, R1/S1/R2/S2) — the level set published before
    // each session opens; leakage-safe by construction (only lagged
    // inputs). Exact integer candles, one lag window.
    Q("win_pivot_points",
      (s, d) => {
        val daily = dailyCandles(s, d)
        val w = Window.partitionBy(col("series")).orderBy(col("bucket"))
        val p = daily.select(col("series").as("event_type"),
            col("bucket").as("day"),
            lag(col("high"), 1).over(w).as("ph"),
            lag(col("low"), 1).over(w).as("pl"),
            lag(col("close"), 1).over(w).as("pc"))
          .filter(col("ph").isNotNull)
        val piv = (col("ph") + col("pl") + col("pc")) / 3
        p.select(col("event_type"), col("day"),
          r6(piv).as("pivot"),
          r6(lit(2) * piv - col("pl")).as("r1"),
          r6(lit(2) * piv - col("ph")).as("s1"),
          r6(piv + (col("ph") - col("pl"))).as("r2"),
          r6(piv - (col("ph") - col("pl"))).as("s2"))
      },
      s"""WITH $dailyHlcSql,
              prev AS (SELECT event_type, day,
                  lag(h) OVER w AS ph, lag(l) OVER w AS pl,
                  lag(c) OVER w AS pc
                FROM daily WINDOW w AS (PARTITION BY event_type
                  ORDER BY day))
              SELECT event_type, day,
                ${Portable.r6Sql("(ph + pl + pc) / 3")} AS pivot,
                ${Portable.r6Sql("2 * (ph + pl + pc) / 3 - pl")} AS r1,
                ${Portable.r6Sql("2 * (ph + pl + pc) / 3 - ph")} AS s1,
                ${Portable.r6Sql("(ph + pl + pc) / 3 + (ph - pl)")} AS r2,
                ${Portable.r6Sql("(ph + pl + pc) / 3 - (ph - pl)")} AS s2
              FROM prev WHERE ph IS NOT NULL"""),

    // On-balance volume: cumulative daily volume signed by the close
    // direction — the classic "is volume confirming the move"
    // accumulation line. Exact integer candle closes decide every
    // sign identically; the running sum is an integer cumsum per
    // series.
    Q("win_obv",
      (s, d) => {
        val k = evFloorCents(s, d)
        val okey = concat(
          lpad(unix_micros(col("ts").cast("timestamp")).cast("string"),
            20, "0"),
          lpad(col("event_id").cast("string"), 20, "0"))
        val daily = k.groupBy(col("event_type"),
            to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("vol"), max_by(col("__vc"), okey).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val sgn = when(col("c") > lag(col("c"), 1).over(w), 1L)
          .when(col("c") < lag(col("c"), 1).over(w), -1L).otherwise(0L)
        daily.select(col("event_type"), col("day"),
          sum(sgn * col("vol")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("obv"))
      },
      """WITH k AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(floor(value*100+0.5) AS BIGINT) AS vc,
                  lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS VARCHAR),
                    20, '0') ||
                    lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
                FROM events),
              daily AS (SELECT event_type, day, count(*) AS vol,
                  arg_max(vc, ok) AS c
                FROM k GROUP BY 1, 2),
              s AS (SELECT event_type, day, vol,
                  CASE WHEN c > lag(c) OVER w THEN 1
                    WHEN c < lag(c) OVER w THEN -1 ELSE 0 END AS sgn
                FROM daily WINDOW w AS (PARTITION BY event_type
                  ORDER BY day))
              SELECT event_type, day,
                CAST(sum(sgn * vol) OVER (PARTITION BY event_type
                  ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS obv
              FROM s"""),

    // Donchian channel: trailing-14-day high/low band and its
    // midline — the breakout reference levels. Exact integer extremes,
    // floor-form round only on the midline division.
    Q("win_donchian",
      (s, d) => {
        val daily = dailyCandles(s, d)
        val fr = Window.partitionBy(col("series")).orderBy(col("bucket"))
          .rowsBetween(-13, Window.currentRow)
        daily.select(col("series").as("event_type"),
          col("bucket").as("day"),
          max(col("high")).over(fr).as("channel_high"),
          min(col("low")).over(fr).as("channel_low"),
          (floor((max(col("high")).over(fr) + min(col("low")).over(fr)) /
            2 * lit(1e6) + lit(0.5)) / lit(1e6)).as("channel_mid"))
      },
      s"""WITH $dailyHlcSql
              SELECT event_type, day,
                max(h) OVER fr AS channel_high,
                min(l) OVER fr AS channel_low,
                floor((max(h) OVER fr + min(l) OVER fr) / 2
                  * 1000000 + 0.5) / 1000000 AS channel_mid
              FROM daily WINDOW fr AS (PARTITION BY event_type
                ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)"""),
  )
}
