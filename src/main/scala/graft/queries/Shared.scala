package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.functions.Portable.r6

/** One registered query: its key, its Spark plan over an sf directory,
  * and the DuckDB SQL its result is hash-compared with. */
private[graft] case class Q(
    key: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

/** Preludes and oracle CTE chains that keys of two or more families
  * share, each said once; a builder one family uses lives in that
  * family's file. Every oracle text is whitespace-normalized by
  * [[graft.SparkEntry.oracleSql]], so line breaks here are free.
  */
private[queries] object Shared {

  /** Events through the week-chunked layout (the hypertable analog) with
    * the full span as the prune window: every event query reads the path
    * that a time-windowed caller would prune on, so at 100× a dashboard
    * window opens a few chunk files instead of scanning the table. The
    * flat reader remains `Tables.events` for callers that need the raw
    * file (scan/sink keys).
    */
  def ev(s: SparkSession, d: String): DataFrame = {
    val span = Tables.eventsSpan(s, d)
    Tables.eventsChunked(s, d, span._1, span._2)
  }

  /** Global order used for all positional/window ops on events. */
  val evOrder: Seq[Column] = Seq(col("ts"), col("event_id"))

  val weekBucket: Column = date_trunc("week", col("ts"))

  /** Events with `__vc`, the value in integer cents by Spark `round`
    * (HALF_UP). */
  def evCents(s: SparkSession, d: String): DataFrame =
    ev(s, d).withColumn("__vc", round(col("value") * 100, 0).cast("long"))

  /** DuckDB twin of `EventAnalytics.funnelTimes` for view → click →
    * purchase over a preceding `ev0(user_id, event_type, ts)` CTE:
    * `v`, `c` and `p` hold each user's first time (`t1`, `t2`, `t3`)
    * at a stage strictly after the previous stage. */
  val funnelCtesSql =
    """v AS (SELECT user_id, min(ts) AS t1 FROM ev0
           WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev0 e
           JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev0 e
           JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > c.t2
           GROUP BY 1)"""

  /** Oracle of the funnel stage counts (agg_funnel and its streaming
    * twin stream_funnel_state). */
  val funnelStagesSql =
    s"""WITH ev0 AS (SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS ts FROM events),
       $funnelCtesSql
       SELECT CASE WHEN t3 IS NOT NULL THEN 3
                   WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS stage,
              CAST(count(*) AS INTEGER) AS n_users
       FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
       GROUP BY 1"""

  /** The interval family's input: `op` over one 15-minute interval per
    * event, keyed by user; the DuckDB twin is [[quarterHourIvSql]]. */
  def quarterHourIntervals(s: SparkSession, d: String)(
      op: (DataFrame, Column, Column, Column, String) => DataFrame)
      : DataFrame =
    op(ev(s, d), col("user_id"), col("ts"),
      col("ts") + expr("INTERVAL 15 MINUTES"), "user_id")

  /** Oracle CTE `iv(user_id, s, e)`: one [ts, ts + 900 s) interval per
    * event. */
  val quarterHourIvSql =
    """iv AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
           CAST(ts AS TIMESTAMP) + INTERVAL 900 SECOND AS e
         FROM events)"""

  /** DuckDB twin of the gaps-and-islands step of
    * `Intervals.coalesceIntervals` over a preceding `iv(user_id, s, e)`
    * CTE: `t` carries the running max end before each row (`pm`), `g`
    * numbers each user's islands (`island`). */
  val islandCtesSql =
    """t AS (SELECT user_id, s, e,
           max(epoch_us(e)) OVER (PARTITION BY user_id
             ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS pm
         FROM iv),
       g AS (SELECT user_id, s, e,
           sum(CASE WHEN pm IS NULL OR epoch_us(s) > pm
             THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
             ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS island
         FROM t)"""

  /** An hourly integer-cents roll-up (`bucket`, `event_type`, `avg_v`,
    * `min_v`, `max_v`, `n`) in value units, the mean rounded by r6. */
  def rollupFromCents(rollup: DataFrame): DataFrame =
    rollup.select(col("bucket"), col("event_type"),
      r6(col("avg_v") / 100).as("avg_v"),
      (col("min_v") / 100).as("min_v"),
      (col("max_v") / 100).as("max_v"), col("n"))

  /** Oracle of the hourly cents roll-up (agg_time_bucket,
    * stream_hourly_rollup, rollup_refresh_merge). */
  val hourlyRollupSql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         event_type, ${Portable.r6Sql("avg(vc) / 100")} AS avg_v,
         min(vc) / 100 AS min_v, max(vc) / 100 AS max_v,
         count(vc) AS n
       FROM (SELECT ts, event_type,
               floor(value * 100 + 0.5) AS vc FROM events)
       GROUP BY 1, 2"""

  /** Oracle of 30-minute-gap sessionization (win_sessionize and its
    * streaming twin stream_sessionize). */
  val sessionizeSql =
    """WITH t AS (SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts2,
           lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
         FROM events)
       SELECT event_id, user_id,
         CAST(sum(CASE WHEN p IS NULL
             OR ts2 > p + INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts2, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       FROM t"""

  /** Oracle of per-user state dwell times (agg_state_durations and its
    * streaming twin stream_state_durations). */
  val stateDurationsSql =
    s"""WITH t AS (SELECT user_id, event_type AS state,
           CAST(ts AS TIMESTAMP) AS ts2,
           lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
         FROM events)
       SELECT user_id, state,
         ${Portable.r6Sql("CAST(sum(epoch_us(nxt - ts2)) AS DOUBLE) / 1e6")}
           AS dur_secs
       FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2"""

  /** Hourly per-type value sums `y` via floor-form integer cents. */
  def hourlyCentsSeries(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg((sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .cast("double") / 100.0).as("y"))

  /** DuckDB twin of [[hourlyCentsSeries]], CTE `h(event_type, hr, y)`. */
  val hourlyCentsSql =
    """h AS (SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
           CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS y
         FROM events GROUP BY 1, 2)"""

  /** Daily per-type value sums `rev` via floor-form integer cents. */
  def dailyRevenue(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .cast("double") / 100.0).as("rev"))

  /** DuckDB twin of [[dailyRevenue]], CTE `d(event_type, day, rev)`. */
  val dailyRevenueSql =
    """d AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS rev
         FROM events GROUP BY 1, 2)"""

  /** Oracle CTEs `n(n)`, the event count, and `r(event_id, rn)`, each
    * event's 1-based position in (ts, event_id) order. */
  val eventRanksSql =
    """n AS (SELECT count(*) AS n FROM events),
       r AS (SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id) AS rn
         FROM events)"""

  /** Two-sample input: click and view values, `i1` = 1 for a click. */
  def clickViewSample(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("i1"))

  /** Orders joined to their customer's nation and region through three
    * broadcast dimensions. */
  def ordersByRegion(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))

  /** The language-id keyword profiles as (lang, word). */
  val langWords = Seq(
    ("en", "the"), ("en", "a"), ("en", "fast"),
    ("de", "der"), ("de", "die"), ("de", "slow"),
    ("fr", "le"), ("fr", "la"), ("fr", "table"),
    ("es", "el"), ("es", "los"), ("es", "data"),
    ("zh", "big"), ("zh", "spark"))

  def langProfiles(s: SparkSession): DataFrame = {
    import s.implicits._
    langWords.toDF("lang", "word")
  }

  /** DuckDB twin of [[langProfiles]], CTE `profiles(lang, word)`. */
  val langProfilesSql = "profiles(lang, word) AS (VALUES " +
    langWords.map { case (l, w) => s"('$l', '$w')" }.mkString(", ") + ")"

  /** Oracle of the first k-means pass over the x100-floored embeddings
    * `q(vec_id, v)`: 8 seeds `c0` (every 37th vec_id), squared
    * distances `d1` and the nearest-seed assignment `a1(vec_id, cid)`. */
  val kmeansFirstPassSql =
    """q AS (SELECT vec_id,
           list_transform(CAST(embedding AS DOUBLE[]),
             x -> floor(x * 100.0)) AS v FROM embeddings),
       init AS (SELECT vec_id, v FROM q WHERE vec_id % 37 = 0
                ORDER BY vec_id LIMIT 8),
       c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                AS INTEGER) AS cid, v FROM init),
       d1 AS (SELECT q.vec_id, c.cid,
                list_sum(list_transform(range(1, 65),
                  i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))) AS dist
              FROM q, c0 c),
       a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                  ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1)"""

  /** Shared by `win_cusum` and its streaming twin `stream_cusum`: the
    * two MUST verify against the same reference (the whole point of a
    * twin), so the oracle lives once.
    */
  val cusumOracleSql =
    """WITH src AS (SELECT event_id, event_type,
              CAST(ts AS TIMESTAMP) AS ts2,
              CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events),
      t AS (SELECT event_id, event_type, ts2, c,
              CAST(floor(CAST(sum(c) OVER (PARTITION BY event_type)
                  AS DOUBLE)
                / count(c) OVER (PARTITION BY event_type))
                AS BIGINT) AS tgt
            FROM src),
      u AS (SELECT event_id, event_type, ts2,
              sum(c - tgt) OVER (PARTITION BY event_type
                ORDER BY ts2, event_id ROWS UNBOUNDED PRECEDING)
                AS cum
            FROM t)
      SELECT event_id,
        CAST(cum - least(min(cum) OVER (PARTITION BY event_type
          ORDER BY ts2, event_id ROWS UNBOUNDED PRECEDING), 0)
          AS BIGINT) AS cusum_pos
      FROM u"""

  /** Per-type daily series as exact integers: (event_type, day,
    * Σcents, n), the input of the daily time-series audit statistics.
    * Daily means never materialize as floats: each statistic compares
    * days by cross-multiplied integers (sign(s_b·n_a − s_a·n_b)), so
    * partial-aggregation order can never flip a sign. The day table is
    * ~30 rows per type: the only corpus-sized pass is the daily
    * aggregate; the O(days²) pair join and the argmax windows are
    * dim-sized.
    */
  def dailyCents(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
        count(lit(1)).as("n"))
}
