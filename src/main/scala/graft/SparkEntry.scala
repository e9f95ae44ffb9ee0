package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.ops._
import graft.functions.ScalarFns
import graft.sources.{CsvMulti, JsonShapes, XmlPoints}
import graft.streaming.HourlyRollup
import graft.functions.Portable
import graft.functions.Portable.r6

/** Driver contract — one named query per implemented operator of
  * SURVEY.md §2 (the key names are the §2 inventory keys), exercised on
  * the TPC-H-ish testdata tables with a DuckDB-checkable oracle.
  *
  * Conventions shared by every query/oracle pair (see SURVEY.md §7.4):
  *  - `events.ts` physical encoding varies by testdata generation
  *    (ns-INT64 vs timestamp[us]) → Spark adapts on read
  *    (Tables.events); DuckDB oracles `CAST(ts AS TIMESTAMP)`, correct
  *    under either encoding.
  *  - every aggregate of doubles is rounded to 6 dp on both sides via
  *    the portable guarded floor form (`Portable.r6` / its SQL twin
  *    `Portable.r6Sql`, which the oracles call) —
  *    NOT `round(x, 6)`: Spark's BigDecimal HALF_UP and DuckDB's C
  *    round flip in opposite directions on boundary doubles (six r15
  *    fuzz catches; the whole class was retired in r16). The sum order
  *    still differs between engines by design — partial aggregation.
  *  - the micro-unit exact-sum convention (round 12, fuzz-driven): where
  *    a raw double sum/mean is order-sensitive at the round(6) boundary,
  *    both engines quantize per row FIRST — `floor(x*1e6 + 0.5)` as an
  *    integer — sum the integers exactly, and divide by 1e6 once. Two
  *    deliberate semantic consequences for query authors: (a) rounding
  *    is half-toward-+infinity, NOT half-away-from-zero — negatives
  *    differ at exact .5 micro boundaries (-0.0000005 → -0.0, where
  *    ROUND/HALF_UP gives -0.000001); (b) values are quantized to
  *    micros BEFORE aggregation, so inputs with >6 decimals contribute
  *    their quantized value, not their raw value, to the sum. Both are
  *    the point: a single portable integer convention beats per-engine
  *    float summation that diverges by partial-aggregation order.
  *  - orderings carry an explicit unique tiebreaker (`event_id`) so
  *    limit/offset/window results are deterministic sets.
  */
object SparkEntry {

  private case class Q(
      key: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Events through the week-chunked layout (the hypertable analog) with
    * the full span as the prune window: every event query reads the path
    * that a time-windowed caller would prune on, so at 100× a dashboard
    * window opens a few chunk files instead of scanning the table. The
    * flat reader remains `Tables.events` for callers that need the raw
    * file (scan/sink keys).
    */
  private def ev(s: SparkSession, d: String): DataFrame = {
    val span = Tables.eventsSpan(s, d)
    Tables.eventsChunked(s, d, span._1, span._2)
  }

  /** Global order used for all positional/window ops on events. */
  private val evOrder: Seq[Column] = Seq(col("ts"), col("event_id"))
  private val weekBucket: Column = date_trunc("week", col("ts"))

  // ------------------------------------------------ shared key builders
  // Preludes and oracle CTE chains that several keys share, each said
  // once. Oracle CTE vals precede the key lists that interpolate them
  // (a `val` is read when its list is built). Every oracle text is
  // whitespace-normalized by [[oracleSql]], so line breaks here are
  // free.

  /** Events with `__vc`, the value in integer cents by Spark `round`
    * (HALF_UP). */
  private def evCents(s: SparkSession, d: String): DataFrame =
    ev(s, d).withColumn("__vc", round(col("value") * 100, 0).cast("long"))

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

  /** The as-of family's inputs: clicks, and views reduced to one payload
    * per (user, ts), the value of the largest event_id. */
  private def asofInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = ev(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("v_value"))
    (clicks, views)
  }

  /** DuckDB twin of [[asofInputs]]: CTEs `clicks` and `views`, each
    * with its timestamp as `ts2`. */
  private val asofCtesSql =
    """clicks AS (SELECT event_id, user_id,
           CAST(ts AS TIMESTAMP) AS ts2
         FROM events WHERE event_type = 'click'),
       views AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
           arg_max(value, event_id) AS v_value
         FROM events WHERE event_type = 'view' GROUP BY 1, 2)"""

  /** Oracle of the prior as-of join, through DuckDB's native ASOF LEFT
    * JOIN (join_asof and join_asof_native). */
  private val asofPriorSql =
    s"""WITH $asofCtesSql
       SELECT c.event_id, c.user_id, v.v_value
       FROM clicks c ASOF LEFT JOIN views v
         ON c.user_id = v.user_id AND c.ts2 >= v.ts2"""

  /** DuckDB twin of `EventAnalytics.funnelTimes` for view → click →
    * purchase over a preceding `ev0(user_id, event_type, ts)` CTE:
    * `v`, `c` and `p` hold each user's first time (`t1`, `t2`, `t3`)
    * at a stage strictly after the previous stage. */
  private val funnelCtesSql =
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
  private val funnelStagesSql =
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
  private def quarterHourIntervals(s: SparkSession, d: String)(
      op: (DataFrame, Column, Column, Column, String) => DataFrame)
      : DataFrame =
    op(ev(s, d), col("user_id"), col("ts"),
      col("ts") + expr("INTERVAL 15 MINUTES"), "user_id")

  /** Oracle CTE `iv(user_id, s, e)`: one [ts, ts + 900 s) interval per
    * event. */
  private val quarterHourIvSql =
    """iv AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
           CAST(ts AS TIMESTAMP) + INTERVAL 900 SECOND AS e
         FROM events)"""

  /** DuckDB twin of the gaps-and-islands step of
    * `Intervals.coalesceIntervals` over a preceding `iv(user_id, s, e)`
    * CTE: `t` carries the running max end before each row (`pm`), `g`
    * numbers each user's islands (`island`). */
  private val islandCtesSql =
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
  private def rollupFromCents(rollup: DataFrame): DataFrame =
    rollup.select(col("bucket"), col("event_type"),
      r6(col("avg_v") / 100).as("avg_v"),
      (col("min_v") / 100).as("min_v"),
      (col("max_v") / 100).as("max_v"), col("n"))

  /** Oracle of the hourly cents roll-up (agg_time_bucket,
    * stream_hourly_rollup, rollup_refresh_merge). */
  private val hourlyRollupSql =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         event_type, ${Portable.r6Sql("avg(vc) / 100")} AS avg_v,
         min(vc) / 100 AS min_v, max(vc) / 100 AS max_v,
         count(vc) AS n
       FROM (SELECT ts, event_type,
               floor(value * 100 + 0.5) AS vc FROM events)
       GROUP BY 1, 2"""

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

  /** Oracle of 30-minute-gap sessionization (win_sessionize and its
    * streaming twin stream_sessionize). */
  private val sessionizeSql =
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

  /** Oracle of per-user state dwell times (agg_state_durations and its
    * streaming twin stream_state_durations). */
  private val stateDurationsSql =
    s"""WITH t AS (SELECT user_id, event_type AS state,
           CAST(ts AS TIMESTAMP) AS ts2,
           lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
         FROM events)
       SELECT user_id, state,
         ${Portable.r6Sql("CAST(sum(epoch_us(nxt - ts2)) AS DOUBLE) / 1e6")}
           AS dur_secs
       FROM t WHERE nxt IS NOT NULL GROUP BY 1, 2"""

  /** DuckDB twin of `Multimodal.asPayload` framing at 128 bytes: CTEs
    * `w` (one row per frame index) and `f(media_id, frame_idx,
    * samples)`. */
  private val mediaFramesSql =
    """w AS (SELECT doc_id AS media_id, text,
           length(text) AS n,
           unnest(range(0, greatest(CAST(ceil(length(text) / 128.0)
             AS INT), 1))) AS frame_idx
         FROM documents),
       f AS (SELECT media_id, CAST(frame_idx AS INTEGER)
             AS frame_idx,
           [ord(substr(text, CAST(frame_idx * 128 + j + 1 AS INT),
             1)) FOR j IN range(0, least(128, n - frame_idx * 128))]
             AS samples
         FROM w)"""

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

  /** The ANN family's inputs: the embeddings corpus `(id, vec)` and the
    * queries `(query_id, qvec)` with id < 5; the DuckDB twin is
    * [[annBaseSql]]. */
  private def annInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = e.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    (e, q)
  }

  /** Oracle tail of the approximate ANN keys: the top 10 of a preceding
    * `sc(query_id, id, cos)` CTE, ties broken by id. */
  private val annTop10Sql =
    """r AS (SELECT query_id, id,
           CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, id) AS INTEGER) AS rank
         FROM sc)
       SELECT query_id, id AS neighbor_id, rank
       FROM r WHERE rank <= 10"""

  /** Near-duplicate groups: connected components of the 0.5-Jaccard
    * MinHash pairs. Scoped: the components loop materializes its labels
    * (lineage cut), so the minhash base cache is released on exit
    * instead of waiting for the harness clearCache. */
  private def minhashComponents(docs: DataFrame): DataFrame =
    Caches.scoped(Dedup.minhashLshPairs(docs,
      col("doc_id"), col("text"), threshold = 0.5))(
      Components.connectedComponents(_))

  /** DuckDB twin of [[minhashComponents]]' graph over a preceding
    * `verified(id_a, id_b, j)` CTE: symmetric edges `sym` and the
    * recursive reachability closure `reach(src, dst)`. */
  private val componentsCtesSql =
    """dup AS (SELECT id_a, id_b FROM verified WHERE j >= 0.5),
       sym AS (SELECT id_a AS src, id_b AS dst FROM dup
               UNION SELECT id_b, id_a FROM dup),
       reach(src, dst) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT r.src, s2.dst FROM reach r JOIN sym s2
           ON r.dst = s2.src)"""

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

  /** Hourly per-type value sums `y` via floor-form integer cents. */
  private def hourlyCentsSeries(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg((sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .cast("double") / 100.0).as("y"))

  /** DuckDB twin of [[hourlyCentsSeries]], CTE `h(event_type, hr, y)`. */
  private val hourlyCentsSql =
    """h AS (SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
           CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS y
         FROM events GROUP BY 1, 2)"""

  /** Daily per-type value sums `rev` via floor-form integer cents. */
  private def dailyRevenue(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .cast("double") / 100.0).as("rev"))

  /** DuckDB twin of [[dailyRevenue]], CTE `d(event_type, day, rev)`. */
  private val dailyRevenueSql =
    """d AS (SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS rev
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

  /** Oracle CTEs `n(n)`, the event count, and `r(event_id, rn)`, each
    * event's 1-based position in (ts, event_id) order. */
  private val eventRanksSql =
    """n AS (SELECT count(*) AS n FROM events),
       r AS (SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id) AS rn
         FROM events)"""

  /** Two-sample input: click and view values, `i1` = 1 for a click. */
  private def clickViewSample(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("value"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("i1"))

  /** Orders joined to their customer's nation and region through three
    * broadcast dimensions. */
  private def ordersByRegion(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))

  /** DuckDB twin of `Graph.coOrderEdges`: CTEs `li(ok, pk)` and the
    * part pairs co-ordered at least twice, `e(a, b)` with a < b. */
  private val coOrderEdgesSql =
    """li AS (SELECT DISTINCT l_orderkey AS ok,
           l_partkey AS pk FROM lineitem),
       e AS (SELECT x.pk AS a, y.pk AS b
         FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** The language-id keyword profiles as (lang, word). */
  private val langWords = Seq(
    ("en", "the"), ("en", "a"), ("en", "fast"),
    ("de", "der"), ("de", "die"), ("de", "slow"),
    ("fr", "le"), ("fr", "la"), ("fr", "table"),
    ("es", "el"), ("es", "los"), ("es", "data"),
    ("zh", "big"), ("zh", "spark"))

  private def langProfiles(s: SparkSession): DataFrame = {
    import s.implicits._
    langWords.toDF("lang", "word")
  }

  /** DuckDB twin of [[langProfiles]], CTE `profiles(lang, word)`. */
  private val langProfilesSql = "profiles(lang, word) AS (VALUES " +
    langWords.map { case (l, w) => s"('$l', '$w')" }.mkString(", ") + ")"

  /** Oracle of the first k-means pass over the x100-floored embeddings
    * `q(vec_id, v)`: 8 seeds `c0` (every 37th vec_id), squared
    * distances `d1` and the nearest-seed assignment `a1(vec_id, cid)`. */
  private val kmeansFirstPassSql =
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

  // ---------------------------------------------------------------- §2.1
  private val scans = Seq(
    Q("scan_parquet",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
              l_shipdate FROM lineitem""")),

    Q("sink_parquet",
      (s, d) => {
        val tmp = Scratch.dir("graft_sink")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
      },
      Some("SELECT o_orderkey, o_totalprice, o_orderdate FROM orders")),

    Q("sink_upsert_nothing",
      (s, d) => {
        val orders = Tables.orders(s, d)
        Relational.upsertNothing(
            orders, orders.filter(col("o_orderkey") % 3 === 0),
            Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              WHERE o_orderkey % 3 <> 0""")),

    Q("sink_partitioned",
      // date-partitioned layout — the Spark analog of hypertable time
      // chunking (SURVEY §4): the read-back filter prunes partitions
      // before any row group is opened
      (s, d) => {
        val tmp = Scratch.dir("graft_part")
        ev(s, d)
          .withColumn("day", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("day").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("day").between("2024-01-10", "2024-01-14"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n"), (sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)).as("total"))
      },
      Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n,
                CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total
              FROM events
              WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
                AND DATE '2024-01-14'
              GROUP BY 1""")),

    Q("scan_raw_snapshot",
      (s, d) => {
        // raw-zone roundtrip: persist text lines, re-read, summarize
        val tmp = Scratch.dir("graft_raw")
        Tables.documents(s, d).select(col("text")).write
          .mode("overwrite").text(tmp)
        s.read.text(tmp)
          .agg(count(lit(1)).as("n_rows"),
            sum(length(col("value"))).as("total_chars"))
      },
      Some("""SELECT count(*) AS n_rows,
                CAST(sum(length(text)) AS BIGINT) AS total_chars
              FROM documents""")),
  )

  // -------------------------------------------------- §2.1 parsers/sinks
  private val sources = Seq(
    Q("scan_jdbc_view",
      (s, d) => {
        // "SELECT * FROM <view> ORDER BY time" (export_pipeline.py:82-93):
        // the view is a registered SQL view, the query goes through
        // spark.sql — the Spark-native analog of the JDBC view read.
        ev(s, d).createOrReplaceTempView("graft_events_v")
        s.sql("""SELECT event_id, ts, value FROM graft_events_v
                 WHERE value >= 200 ORDER BY ts, event_id""")
      },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value
              FROM events WHERE value >= 200""")),

    Q("scan_csv_multi",
      (s, d) => {
        val e = ev(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        val tmp = Scratch.dir("graft_csv")
        e.filter(col("event_id") % 2 === 0)
          .write.option("header", "true").mode("overwrite").csv(s"$tmp/a")
        // second file with a DIFFERENT column order — union is by name
        e.filter(col("event_id") % 2 =!= 0)
          .select(col("value"), col("event_id"), col("event_type"))
          .write.option("header", "true").mode("overwrite").csv(s"$tmp/b")
        CsvMulti.read(s, Seq(s"$tmp/a", s"$tmp/b"))
          .select(col("event_id").cast("long").as("event_id"),
            col("event_type"), col("value").cast("double").as("value"))
      },
      Some("SELECT event_id, event_type, value FROM events")),

    Q("scan_json_columnar",
      (s, d) => {
        // build one columnar-array JSON document per hour from events,
        // then parse with the open-meteo-shape parser; the roundtrip must
        // reproduce the original rows exactly
        val docs = ev(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
            .as("arr"))
          .select(to_json(struct(
            transform(col("arr"), x => x.getField("event_id")).as("ids"),
            transform(col("arr"), x => x.getField("value")).as("vals")))
            .as("js"))
        JsonShapes.parseColumnar(docs, col("js"), Seq.empty)
          .select(col("event_id"), col("value"))
      },
      Some("SELECT event_id, value FROM events")),

    Q("scan_json_nested",
      (s, d) => {
        // nested tariff shape: prices[].{t, components[].{unit, value}};
        // only the CHF_kWh component of each interval survives
        val mkComponents = (x: Column) => array(
          struct(lit("CHF_kWh").as("unit"), x.getField("value").as("value")),
          struct(lit("CHF_MWh").as("unit"),
            (x.getField("value") * 1000).as("value")))
        val prices = transform(col("arr"), x =>
          struct(x.getField("event_id").as("t"),
            mkComponents(x).as("components")))
        // one document per (event_type, hour), NOT per event_type: a
        // per-type doc concatenates the type's whole history into one
        // JSON string — multi-MB rows at sf0.1, GB rows at 100× (row
        // size must be bounded by a RATE, not by table size). Hourly
        // docs match the reference's per-delivery tariff payloads and
        // keep the bench timing the parser, not string construction.
        val docs = ev(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")))
          .agg(array_sort(collect_list(struct(col("event_id"), col("value"))))
            .as("arr"))
          .select(to_json(struct(prices.as("prices"))).as("js"))
        JsonShapes.parseNestedTariff(docs, col("js"), Seq.empty, "CHF_kWh")
          .select(col("t").as("event_id"), col("value"))
      },
      Some("SELECT event_id, value FROM events")),

    Q("scan_xml_points",
      (s, d) => {
        // ENTSO-E Period documents synthesized per event_type; parse must
        // reconstruct point_ts = start + (position-1)*resolution. Each
        // event_type carries a DIFFERENT resolution code so all four
        // branches of the reference's PT15M/PT30M/PT60M/P1D map
        // (entsoe_collector.py:446-448) are oracle-checked, not just
        // the 15-minute one.
        val resCode = when(col("event_type") === "view", "PT30M")
          .when(col("event_type") === "purchase", "PT60M")
          .when(col("event_type") === "error", "P1D")
          .otherwise("PT15M")
        // one Period document per (event_type, DAY), anchored at that
        // day's midnight — per-type whole-history docs would grow with
        // table size (the scan_json_nested giant-row hazard); daily
        // docs are rate-bounded, matching real delivery payloads
        val docs = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
          .agg(array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("value")))).as("arr"))
          .select(col("event_type"), concat(
            lit("<Period><timeInterval><start>"),
            date_format(col("__day"), "yyyy-MM-dd'T'HH:mm"),
            lit("Z</start></timeInterval><resolution>"), resCode,
            lit("</resolution>"),
            concat_ws("", transform(col("arr"), (x, i) =>
              concat(lit("<Point><position>"), (i + 1).cast("string"),
                lit("</position><price.amount>"),
                x.getField("value").cast("string"),
                lit("</price.amount></Point>")))),
            lit("</Period>")).as("xml"))
        XmlPoints.parse(docs, col("xml"), Seq(col("event_type")))
          .select(col("event_type"), col("point_ts"), col("price"))
      },
      Some("""SELECT event_type,
                CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                  + to_minutes((CASE event_type WHEN 'view' THEN 30
                      WHEN 'purchase' THEN 60 WHEN 'error' THEN 1440
                      ELSE 15 END)
                    * (row_number() OVER
                      (PARTITION BY event_type,
                        date_trunc('day', CAST(ts AS TIMESTAMP))
                       ORDER BY ts, event_id) - 1))
                  AS point_ts,
                value AS price
              FROM events""")),

    Q("scan_json_kv_merge",
      (s, d) => JsonShapes.pivotKv(ev(s, d),
        date_trunc("hour", col("ts")).cast("timestamp_ntz"),
        col("event_type"), col("value"), Seq("click", "view")),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                max(CASE WHEN event_type = 'click' THEN value END) AS click,
                max(CASE WHEN event_type = 'view' THEN value END) AS view
              FROM events WHERE event_type IN ('click', 'view')
              GROUP BY 1""")),

    Q("sink_call_log",
      (s, d) => {
        // append-only operational log: two batches appended to the same
        // path, read back, summarized (base_collector.py:13-49)
        val tmp = Scratch.dir("graft_log")
        val logs = ev(s, d).select(col("event_id"),
          col("event_type").as("source"),
          when(col("value") >= 100, 200).otherwise(500).as("status"))
        logs.filter(col("event_id") % 2 === 0)
          .write.mode("append").parquet(tmp)
        logs.filter(col("event_id") % 2 =!= 0)
          .write.mode("append").parquet(tmp)
        s.read.parquet(tmp).groupBy(col("status"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CASE WHEN value >= 100 THEN 200 ELSE 500 END AS status,
                count(*) AS n
              FROM events GROUP BY 1""")),
  )

  // ---------------------------------------------------------------- §2.2
  private val filters = Seq(
    Q("filter_eq_dim",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_returnflag = 'R' AND l_linestatus = 'F'""")),

    Q("filter_or_pred",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderstatus") === "O" ||
          col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority")),
      Some("""SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
              WHERE o_orderstatus = 'O' OR o_orderpriority = '1-URGENT'""")),

    Q("filter_time_range",
      (s, d) => {
        val e = ev(s, d)
        val anchor = e.agg(max(col("ts")).as("__max_ts"))
        e.crossJoin(broadcast(anchor))
          .filter(col("ts") >= col("__max_ts") - expr("INTERVAL 7 DAYS"))
          .select(col("event_id"), col("ts"), col("event_type"))
      },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
              FROM events
              WHERE CAST(ts AS TIMESTAMP) >=
                (SELECT CAST(max(ts) AS TIMESTAMP) FROM events)
                  - INTERVAL 7 DAY""")),

    Q("filter_category",
      (s, d) => Tables.documents(s, d)
        .filter(lower(trim(col("lang"))) === "en")
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM documents
              WHERE lower(trim(lang)) = 'en'""")),

    Q("filter_dropna",
      (s, d) => ev(s, d).na.drop(Seq("value"))
        .select(col("event_id"), col("value")),
      Some("SELECT event_id, value FROM events WHERE value IS NOT NULL")),

    Q("project_columns",
      (s, d) => Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer")),

    Q("project_skip_cols",
      (s, d) => {
        // numeric-column discovery minus a skip-set (src/api/main.py:494-519)
        val skip = Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
        val li = Tables.lineitem(s, d)
        val numeric = li.schema.fields.collect {
          case f if f.dataType.typeName.matches("double|integer|long|float")
            && !skip.contains(f.name) => f.name
        }
        li.select(numeric.sorted.map(col).toIndexedSeq: _*)
      },
      Some("SELECT l_discount, l_extendedprice, l_quantity, l_tax FROM lineitem")),
  )

  // ---------------------------------------------------------------- §2.3
  private val joins = Seq(
    Q("join_left_multikey",
      (s, d) => {
        val orders = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
          .withColumnRenamed("c_custkey", "o_custkey")
        val j1 = Relational.leftJoinConstDim(orders, cust, Seq("o_custkey"),
          col("c_mktsegment") === "BUILDING", Map("c_acctbal" -> "bal_building"))
        Relational.leftJoinConstDim(j1, cust, Seq("o_custkey"),
            col("c_mktsegment") === "MACHINERY", Map("c_acctbal" -> "bal_machinery"))
          .select(col("o_orderkey"), col("bal_building"), col("bal_machinery"))
      },
      Some("""SELECT o.o_orderkey, b.c_acctbal AS bal_building,
                m.c_acctbal AS bal_machinery
              FROM orders o
              LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer
                         WHERE c_mktsegment = 'BUILDING') b
                ON o.o_custkey = b.c_custkey
              LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer
                         WHERE c_mktsegment = 'MACHINERY') m
                ON o.o_custkey = m.c_custkey""")),

    Q("join_left_single",
      (s, d) => Relational.leftJoin(
          Tables.orders(s, d),
          Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey")
            .select(col("o_custkey"), col("c_name")),
          Seq("o_custkey"))
        .select(col("o_orderkey"), col("c_name")),
      Some("""SELECT o.o_orderkey, c.c_name FROM orders o
              LEFT JOIN customer c ON o.o_custkey = c.c_custkey""")),

    Q("join_left_using",
      (s, d) => Relational.leftJoin(
          Tables.lineitem(s, d),
          Tables.orders(s, d).withColumnRenamed("o_orderkey", "l_orderkey")
            .select(col("l_orderkey"), col("o_totalprice")),
          Seq("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice")),
      Some("""SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
              FROM lineitem l
              LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey""")),

    Q("join_left_expr",
      (s, d) => {
        val e = ev(s, d)
        // micro-unit exact hourly mean (fuzz-hardened: raw avg +
        // round(.,6) flips at .5e-6 boundaries across engines)
        val hourly = e
          .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
          .agg((floor(sum(floor(col("value") * lit(1e6) + lit(0.5)))
            .cast("double") / count(lit(1)) + lit(0.5)) / lit(1e6))
            .as("__avg_v"))
        Relational.leftJoinExpr(e, hourly,
            date_trunc("hour", e("ts")) === hourly("hour_ts"))
          .select(col("event_id"), col("value"),
            col("__avg_v").as("hourly_avg"))
      },
      Some("""SELECT e.event_id, e.value, h.avg_v AS hourly_avg
              FROM events e
              LEFT JOIN (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5)
                                    AS BIGINT)) AS DOUBLE) / count(*) + 0.5)
                                  / 1e6 AS avg_v
                         FROM events GROUP BY 1) h
                ON date_trunc('hour', CAST(e.ts AS TIMESTAMP)) = h.hour_ts""")),

    Q("join_holiday_ranges",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val ranges = Seq(
          ("1995-01-01", "1995-01-15"),
          ("1996-06-01", "1996-06-30"),
          ("1997-12-20", "1998-01-05"))
          .toDF("start_s", "end_s")
          .select(to_date(col("start_s")).as("start"),
            to_date(col("end_s")).as("end"))
        Relational.flagInRanges(
            Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            to_date(col("o_orderdate")), ranges, "is_holiday")
          .select(col("o_orderkey"), col("is_holiday"))
      },
      Some("""SELECT o.o_orderkey,
                CASE WHEN CAST(o.o_orderdate AS DATE)
                       BETWEEN DATE '1995-01-01' AND DATE '1995-01-15'
                     OR CAST(o.o_orderdate AS DATE)
                       BETWEEN DATE '1996-06-01' AND DATE '1996-06-30'
                     OR CAST(o.o_orderdate AS DATE)
                       BETWEEN DATE '1997-12-20' AND DATE '1998-01-05'
                  THEN 1 ELSE 0 END AS is_holiday
              FROM orders o""")),
  )

  // ---------------------------------------------------------------- §2.4
  private val aggs = Seq(
    Q("agg_time_bucket",
      // integer-cents measure: the group avg is then exact in IEEE
      // double under any partial-aggregation order → bit-identical
      // across engines at every scale factor (raw-double group avgs
      // flip 6-decimal rounding boundaries)
      (s, d) => rollupFromCents(Aggregates.timeBucketAgg(
          ev(s, d).withColumn("vc", floor(col("value") * 100 + lit(0.5))),
          col("ts"), "1 hour", Seq(col("event_type")), col("vc"))),
      Some(hourlyRollupSql)),

    Q("agg_conditional_sum",
      (s, d) => Aggregates.conditionalNetSum(Tables.lineitem(s, d),
        Seq(col("l_linestatus")),
        col("l_returnflag") === "R", col("l_returnflag") === "A",
        col("l_quantity")),
      Some("""SELECT l_linestatus,
                sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END)
              - sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS net
              FROM lineitem GROUP BY 1""")),

    Q("agg_count_min_max",
      (s, d) => Aggregates.countMinMax(ev(s, d), col("ts")),
      Some("""SELECT count(*) AS n_rows, CAST(min(ts) AS TIMESTAMP) AS min_ts,
                CAST(max(ts) AS TIMESTAMP) AS max_ts FROM events""")),

    Q("agg_filtered_count",
      (s, d) => ev(s, d).agg(
        count(lit(1)).as("n_total"),
        count(when(col("event_type") === "error", lit(1))).as("n_error"),
        count(when(col("value") >= 100, lit(1))).as("n_hi"),
        max(when(col("event_type") === "error", col("ts"))).as("max_error_ts")),
      Some("""SELECT count(*) AS n_total,
                count(*) FILTER (WHERE event_type = 'error') AS n_error,
                count(*) FILTER (WHERE value >= 100) AS n_hi,
                CAST(max(ts) FILTER (WHERE event_type = 'error') AS TIMESTAMP)
                  AS max_error_ts
              FROM events""")),

    Q("agg_grouped_counts",
      (s, d) => ev(s, d)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start")
            .cast("timestamp_ntz").as("bucket"))
        .count().withColumnRenamed("count", "n"),
      Some("""SELECT event_type,
                date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                count(*) AS n
              FROM events GROUP BY 1, 2""")),

    Q("agg_group_transform",
      (s, d) => Aggregates.groupDeviation(ev(s, d), to_date(col("ts")),
          col("value"), "deviation")
        .select(col("event_id"), r6(col("deviation")).as("deviation")),
      Some(s"""SELECT event_id,
                ${Portable.r6Sql("value - avg(value) OVER (PARTITION BY CAST(ts AS DATE))")}
                  AS deviation
              FROM events""")),

    Q("agg_median_impute",
      (s, d) => {
        val e = ev(s, d).withColumn("x",
          when(col("value") < 10, lit(null)).otherwise(col("value")))
        Aggregates.medianImpute(e, col("event_type"), col("x"), "imputed")
          .select(col("event_id"), r6(col("imputed")).as("imputed"))
      },
      Some(s"""WITH e AS (SELECT event_id, event_type,
                CASE WHEN value < 10 THEN NULL ELSE value END AS x FROM events),
              m AS (SELECT event_type, median(x) AS med FROM e GROUP BY 1)
              SELECT e.event_id, ${Portable.r6Sql("coalesce(e.x, m.med)")} AS imputed
              FROM e LEFT JOIN m USING (event_type)""")),

    Q("agg_metrics",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        Aggregates.regressionMetrics(li, col("l_extendedprice"),
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .select(r6(col("mae")).as("mae"),
            r6(col("rmse")).as("rmse"),
            r6(col("mape")).as("mape"))
      },
      Some(s"""SELECT
                ${Portable.r6Sql("avg(abs(err))")} AS mae,
                ${Portable.r6Sql("sqrt(avg(err * err))")} AS rmse,
                ${Portable.r6Sql("avg(CASE WHEN abs(l_extendedprice) >= 10 THEN abs(err) / abs(l_extendedprice) END) * 100")} AS mape
              FROM (SELECT l_extendedprice,
                      l_extendedprice * (1 - l_discount) - l_extendedprice AS err
                    FROM lineitem)""")),
  )

  // ---------------------------------------------------------------- §2.5
  private val windows = Seq(
    Q("win_lag",
      (s, d) => ScalableWindow.withTrailingColumns(
          ev(s, d), weekBucket, evOrder, 168)(
          "lag_1"   -> (w => lag(col("value"), 1).over(w)),
          "lag_24"  -> (w => lag(col("value"), 24).over(w)),
          "lag_168" -> (w => lag(col("value"), 168).over(w)))
        .select(col("event_id"), col("lag_1"), col("lag_24"), col("lag_168")),
      Some("""SELECT event_id, lag(value, 1) OVER w AS lag_1,
                lag(value, 24) OVER w AS lag_24,
                lag(value, 168) OVER w AS lag_168
              FROM events WINDOW w AS (ORDER BY ts, event_id)""")),

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
      Some(s"""SELECT event_id,
                ${Portable.r6Sql("r24")} AS roll_24,
                ${Portable.r6Sql("r168")} AS roll_168
              FROM (SELECT event_id,
                      avg(vc) OVER (w ROWS BETWEEN 23 PRECEDING
                        AND CURRENT ROW) / 100 AS r24,
                      avg(vc) OVER (w ROWS BETWEEN 167 PRECEDING
                        AND CURRENT ROW) / 100 AS r168
                    FROM (SELECT event_id, ts,
                            floor(value * 100 + 0.5) AS vc FROM events)
                    WINDOW w AS (ORDER BY ts, event_id))""")),

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
      Some("""WITH dd AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e6 AS total
                          FROM events GROUP BY 1)
              SELECT day, total,
                lag(total, 1) OVER (ORDER BY day) AS prev_total
              FROM dd""")),
  )

  // ---------------------------------------------------------------- §2.6
  private val sorts = Seq(
    Q("sort_time_asc",
      (s, d) => ev(s, d).orderBy(col("ts"), col("event_id")).limit(10000)
        .select(col("event_id"), col("ts"), col("value")),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
              ORDER BY ts, event_id LIMIT 10000""")),

    Q("sort_desc_limit1",
      (s, d) => ev(s, d).orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(col("event_id"), col("ts"), col("value")),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
              ORDER BY ts DESC, event_id DESC LIMIT 1""")),

    Q("limit_offset_page",
      (s, d) => Relational.page(ev(s, d),
          Seq(col("ts").desc, col("event_id").desc), 40, 20)
        .select(col("event_id"), col("ts")),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
              ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 40""")),

    Q("limit_history_n",
      (s, d) => Relational.lastNAscending(ev(s, d), evOrder, 500)
        .select(col("event_id"), col("ts"), col("value")),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM
                (SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 500)
              ORDER BY ts, event_id""")),

    Q("split_chrono_ratio",
      (s, d) => ScalableRank.chronoSplit(ev(s, d), weekBucket, evOrder, 0.3)
        .select(col("event_id"), col("split")),
      Some(s"""WITH $eventRanksSql
              SELECT r.event_id,
                CASE WHEN r.rn <= floor(n.n * (1 - 0.3)) THEN 'train'
                     ELSE 'test' END AS split
              FROM r, n""")),

    Q("split_by_dates",
      (s, d) => Relational.splitByDates(ev(s, d), to_date(col("ts")), 4, 4)
        .select(col("event_id"), col("split")),
      Some("""WITH a AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events)
              SELECT e.event_id,
                CASE WHEN CAST(e.ts AS DATE) <= a.maxd - 8 THEN 'train'
                     WHEN CAST(e.ts AS DATE) <= a.maxd - 4 THEN 'val'
                     ELSE 'test' END AS split
              FROM events e, a""")),

    Q("downsample_stride",
      (s, d) => ScalableRank.downsampleStride(ev(s, d), weekBucket, evOrder, 500)
        .select(col("event_id")),
      Some(s"""WITH $eventRanksSql
              SELECT r.event_id FROM r, n
              WHERE (r.rn - 1) % CAST(ceil(n.n / 500.0) AS BIGINT) = 0""")),
  )

  // ---------------------------------------------------------------- §2.7
  private val sets = Seq(
    Q("union_multi_source",
      (s, d) => {
        val o = Tables.orders(s, d)
        Relational.unionSources(Seq(
            o.filter(col("o_orderstatus") === "O"),
            o.filter(col("o_orderstatus") === "F")))
          .select(col("o_orderkey"), col("o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'
              UNION ALL
              SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'""")),
  )

  // ---------------------------------------------------------------- §2.8
  private val scalars = Seq(
    Q("f_extract_calendar",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.hourOfDay(col("ts")).as("hour_of_day"),
        ScalarFns.dowPg(col("ts")).as("dow"),
        ScalarFns.monthOf(col("ts")).as("month"),
        ScalarFns.quarterOf(col("ts")).as("quarter")),
      Some("""SELECT event_id, hour(ts) AS hour_of_day, dayofweek(ts) AS dow,
                month(ts) AS month, quarter(ts) AS quarter
              FROM events""")),

    Q("f_case_flags",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.isWeekend(col("ts")).as("is_weekend"),
        ScalarFns.isPeakHour(col("ts")).as("is_peak_hour")),
      Some("""SELECT event_id,
                CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
                CASE WHEN hour(ts) BETWEEN 7 AND 22 THEN 1 ELSE 0 END AS is_peak_hour
              FROM events""")),

    Q("f_coalesce_arith",
      (s, d) => ev(s, d).select(col("event_id"),
        (col("value") - coalesce(
          when(col("event_type") === "view", col("value")) * lit(0.5),
          lit(0.0))).as("net")),
      Some("""SELECT event_id,
                value - coalesce(
                  (CASE WHEN event_type = 'view' THEN value END) * 0.5, 0) AS net
              FROM events""")),

    Q("f_date_trunc",
      (s, d) => ev(s, d).select(col("event_id"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"),
        to_date(col("ts")).as("day")),
      Some("""SELECT event_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                CAST(ts AS DATE) AS day
              FROM events""")),
  )

  // ------------------------------------------------- §2.8 remaining fns
  private val scalars2 = Seq(
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
      Some("""WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                  CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
              days AS (SELECT CAST(unnest(generate_series(
                  CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                  INTERVAL 1 DAY)) AS DATE) AS window_start FROM span)
              SELECT window_start, window_start + 1 AS window_end
              FROM days""")),

    Q("f_tz_normalize",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.parseOffsetToUtc(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss+01:00")).as("utc_ts")),
      Some("""SELECT event_id,
                date_trunc('second', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR
                  AS utc_ts
              FROM events""")),

    Q("f_ts_arithmetic",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.pointTimestamp(
          date_trunc("hour", col("ts")),
          (col("event_id") % 4) + 1, lit(15)).cast("timestamp_ntz")
          .as("point_ts")),
      Some("""SELECT event_id,
                date_trunc('hour', CAST(ts AS TIMESTAMP))
                  + to_minutes(15 * (event_id % 4)) AS point_ts
              FROM events""")),

    Q("f_date_format",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.isoFormat(col("ts")).as("iso")),
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
              FROM events""")),

    Q("f_clip",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.clip(col("value"), 50.0, 300.0).as("clipped")),
      Some("""SELECT event_id, least(greatest(value, 50.0), 300.0) AS clipped
              FROM events""")),

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
      Some("""SELECT event_id,
                least(greatest(30.0 * (ln * ln), 15.0), 35.0)
                  AS netzpreis
              FROM (SELECT event_id,
                      least(greatest((value - mn) / (mx - mn), 0.0), 1.0) AS ln
                    FROM (SELECT event_id, value,
                            min(value) OVER (PARTITION BY event_type) AS mn,
                            max(value) OVER (PARTITION BY event_type) AS mx
                          FROM events))""")),

    Q("f_tariff_energie",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.tariffEnergie(col("value"), lit(1.2), lit(3.0), lit(20.0))
          .as("energiepreis"),
        (ScalarFns.tariffEnergie(col("value"), lit(1.2), lit(3.0), lit(20.0))
          + lit(18.5)).as("gesamttarif")),
      Some("""SELECT event_id,
                least(greatest(1.2 * (value / 10.0) + 3.0, 15.0), 25.0)
                  AS energiepreis,
                least(greatest(1.2 * (value / 10.0) + 3.0, 15.0), 25.0) + 18.5
                  AS gesamttarif
              FROM events""")),

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
      Some("""SELECT l_orderkey, l_linenumber,
                floor(l_extendedprice * l_discount * 100.0 + 0.5) / 100.0
                  AS disc_amt,
                floor(l_discount * 100.0 * 10000.0 + 0.5) / 10000.0
                  AS disc_pct
              FROM lineitem""")),

    Q("f_price_level",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.priceLevel(col("value"), 100.0, 300.0).as("level")),
      Some("""SELECT event_id,
                CASE WHEN value < 100.0 THEN 'low'
                     WHEN value > 300.0 THEN 'high'
                     ELSE 'medium' END AS level
              FROM events""")),

    Q("f_string_clean",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        lower(trim(col("source"))).as("src_clean"),
        regexp_extract(col("source"), "src([0-9]+)", 1).cast("int")
          .as("src_num"),
        substring(trim(col("text")), 1, 20).as("head")),
      Some("""SELECT doc_id, lower(trim(source)) AS src_clean,
                CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER)
                  AS src_num,
                substr(trim(text), 1, 20) AS head
              FROM documents""")),

    Q("f_safe_float",
      (s, d) => ev(s, d).select(col("event_id"),
        ScalarFns.safeFloat(
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)).as("k_val"),
        ScalarFns.safeFloat(col("event_type")).as("bad_val")),
      Some("""SELECT event_id,
                TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS DOUBLE)
                  AS k_val,
                TRY_CAST(event_type AS DOUBLE) AS bad_val
              FROM events""")),

    Q("f_hash_sha256",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        sha2(col("text"), 256).as("h")),
      Some("SELECT doc_id, sha256(text) AS h FROM documents")),
  )

  // ---------------------------------------------------------------- §2.9
  private val dq = Seq(
    Q("dq_no_nulls",
      (s, d) => Quality.nullCounts(ev(s, d), Seq("ts", "event_type", "value")),
      Some("""SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE ts IS NULL) AS nulls_ts,
                count(*) FILTER (WHERE event_type IS NULL) AS nulls_event_type,
                count(*) FILTER (WHERE value IS NULL) AS nulls_value
              FROM events""")),

    Q("dq_ascending",
      (s, d) => Quality.descendingCount(ev(s, d), col("ts"),
        Seq(col("event_id")),
        floor(col("event_id") / lit(1000))),
      Some("""SELECT count(*) AS n_violations
              FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS p
                    FROM events)
              WHERE p > ts""")),

    Q("dq_freshness",
      (s, d) => Quality.freshness(ev(s, d), col("ts"),
        lit("2024-02-05 00:00:00").cast("timestamp_ntz")),
      Some("""SELECT CAST(max(ts) AS TIMESTAMP) AS max_ts,
                CASE WHEN max(ts) IS NULL
                  OR max(ts) < TIMESTAMP '2024-02-05 00:00:00'
                  THEN 1 ELSE 0 END AS stale
              FROM events""")),

    Q("dq_leakage",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val forbidden = Set("l_extendedprice", "net_load_kwh", "export_ts")
        Quality.leakageViolations(
          Tables.lineitem(s, d).columns.toSeq, forbidden).toDF("leaked_col")
      },
      Some("SELECT 'l_extendedprice' AS leaked_col")),

    Q("dq_required_keys",
      (s, d) => ev(s, d).agg(count(lit(1)).as("n_rows"),
        count(when(col("ts").isNull, lit(1))).as("n_missing_key")),
      Some("""SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE ts IS NULL) AS n_missing_key
              FROM events""")),
  )

  // --------------------------------------------------------------- §2.10
  private val streaming = Seq(
    Q("stream_hourly_rollup",
      // integer-cents measure — see agg_time_bucket
      (s, d) => rollupFromCents(HourlyRollup.runToCompletion(s, d,
          measure = floor(col("value") * 100 + lit(0.5)))),
      Some(hourlyRollupSql)),
  )

  // --------------------------------------- LLM training-data pipeline ops
  /** documents plus planted near-duplicates (same text minus its first
    * token, id shifted by 10^6) — guarantees the near-dup detectors have
    * signal to find, and the spec asserts they find exactly these.
    */
  private def withPlantedDups(docs: DataFrame): DataFrame = {
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text",
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 2, 100000)))
    docs.unionByName(mutated)
  }

  /** DuckDB twin of [[withPlantedDups]] — shared CTE body. */
  private val plantedDocsSql =
    """docs AS (SELECT doc_id AS id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000,
         array_to_string(list_slice(
           string_split_regex(trim(text), '\s+'), 2, 100000), ' ')
       FROM documents)"""

  /** DuckDB twin of [[Dedup.shingles]] (k = 3) over column `toks`. */
  private val shinglesSql =
    """list_distinct([array_to_string(toks[i+1:i+3], ' ')
       for i in range(0, greatest(len(toks) - 3, 0) + 1)])"""

  /** DuckDB `VALUES (table_idx, bit_idx, plane)` rows embedding the exact
    * hyperplane literals [[Similarity.planes]] generates. The planes are
    * deterministic pure functions of (seed, bit, component), so the
    * oracle can replicate the *full* LSH pipeline — signatures, candidate
    * generation, exact re-rank — independently in SQL. Scala's
    * `Double.toString` emits the shortest round-tripping decimal form,
    * so the literals parse back to bit-identical doubles.
    */
  private def planesValuesSql(nBits: Int, tables: Int, dim: Int): String =
    (0 until tables).flatMap { t =>
      val pl = Similarity.planes(nBits, dim, t)
      (0 until nBits).map(j =>
        s"($t, $j, [${pl(j).mkString(",")}]::DOUBLE[])")
    }.mkString(", ")

  /** Probed embedding dim per sfDir (see the ann_lsh dim-64 contract). */
  private val annDims =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Int]]()

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

  /** Shared oracle CTE prefix for the ANN queries (embeddings corpus +
    * the id<5 query set, exact cosine in DOUBLE). */
  private val annBaseSql =
    """e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
            FROM embeddings),
       q AS (SELECT id AS query_id, vec AS qvec FROM e WHERE id < 5)"""

  /** Shared DuckDB CTE chain computing the verified MinHash-LSH pair
    * set over the planted docs (follows [[plantedDocsSql]] in a WITH) —
    * ends with CTE `verified(id_a, id_b, j)`. One definition shared by
    * the pair query and the connected-components query.
    */
  private val minhashCtesSql = s"""base AS (SELECT id, $shinglesSql AS sh
                       FROM (SELECT id,
                               string_split_regex(lower(trim(text)), '\\s+')
                                 AS toks
                             FROM docs)),
              hb AS (SELECT id,
                       CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS b
                     FROM (SELECT id, unnest(sh) AS s FROM base)),
              sigs AS (SELECT id, j,
                         min((1000003 * (j + 1) * b + 666019 * (j + 1))
                           % 2147483647) AS sig
                       FROM hb, range(16) r(j) GROUP BY 1, 2),
              bandskey AS (SELECT id, (j // 4) AS band_idx,
                             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY j)
                               AS band_key
                           FROM sigs GROUP BY 1, 2),
              bcount AS (SELECT band_idx, band_key, count(*) AS n
                         FROM bandskey GROUP BY 1, 2),
              pruned AS (SELECT bk.id, bk.band_idx, bk.band_key
                         FROM bandskey bk
                         JOIN bcount c USING (band_idx, band_key)
                         WHERE c.n <= 1000),
              pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                        FROM pruned a JOIN pruned b
                          USING (band_idx, band_key)
                        WHERE a.id < b.id),
              verified AS (SELECT p.id_a, p.id_b,
                             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                               / len(list_distinct(list_concat(x.sh, y.sh)))
                               AS j
                           FROM pairs p
                           JOIN base x ON p.id_a = x.id
                           JOIN base y ON p.id_b = y.id)"""

  private val llm = Seq(
    Q("dedup_exact",
      (s, d) => Dedup.exact(Tables.documents(s, d), col("doc_id"), col("text")),
      Some("""SELECT sha256(text) AS content_hash, min(doc_id) AS rep_id,
                count(*) AS n_dups
              FROM documents GROUP BY 1""")),

    Q("dedup_minhash_lsh",
      (s, d) => Dedup.minhashLshPairs(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.5),
      Some(s"""WITH $plantedDocsSql,
              $minhashCtesSql
              SELECT id_a, id_b, ${Portable.r6Sql("j")} AS jaccard
              FROM verified WHERE j >= 0.5""")),

    // dedup GROUPS from the pair list: connected components via
    // min-label propagation (ops/Components) — the step that turns
    // pairwise near-dup output into clusters with one canonical
    // representative. The oracle recomputes the identical pair set and
    // clusters it with a recursive transitive closure.
    Q("dedup_components",
      (s, d) => minhashComponents(withPlantedDups(Tables.documents(s, d))),
      Some(s"""WITH RECURSIVE $plantedDocsSql,
              $minhashCtesSql,
              $componentsCtesSql
              SELECT src AS id, least(src, min(dst)) AS component
              FROM reach GROUP BY src""")),

    // Guarded cap form (r17, the phash/containment precedent): the
    // in-pass guard (r19 — raise_error where the unguarded form prunes,
    // no separate audit job) proves blocking stays LOSSLESS at the cap,
    // so the green row equals the brute-force oracle by construction.
    // Cap 4096 documents the driver corpus's df: max (chunk_idx, chunk)
    // occupancy is 3,084 at sf10 (257M candidates — which the r17
    // pipelined verify keeps out of the distinct shuffle).
    Q("dedup_simhash",
      (s, d) => Dedup.simhashPairs(
        Dedup.simhash(withPlantedDups(Tables.documents(s, d)),
          col("doc_id"), col("text")),
        maxHamming = 3, maxBucketSize = 4096,
        failOnCappedBuckets = true),
      Some(s"""WITH $plantedDocsSql,
              th AS (SELECT id,
                       CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
                     FROM (SELECT id,
                             unnest(string_split_regex(lower(trim(text)),
                               '\\s+')) AS t
                           FROM docs)),
              bits AS (SELECT id, b,
                         sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1
                           THEN 1 ELSE -1 END) AS sgn
                       FROM th, range(60) r(b) GROUP BY 1, 2),
              sh AS (SELECT id,
                       CAST(sum(CASE WHEN sgn > 0
                         THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                         ELSE 0 END) AS BIGINT) AS simhash
                     FROM bits GROUP BY 1)
              SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                  AS hamming
              FROM sh a JOIN sh b ON a.id < b.id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")),

    Q("dedup_ngram_jaccard",
      (s, d) => {
        val planted = withPlantedDups(Tables.documents(s, d))
          .withColumn("blk", col("doc_id") % 1000000L % 500)
        Dedup.ngramJaccardPairs(planted, col("doc_id"), col("text"),
          col("blk"), n = 3, threshold = 0.5)
      },
      Some(s"""WITH $plantedDocsSql,
              base AS (SELECT id, ((id % 1000000) % 500) AS blk,
                         $shinglesSql AS sh
                       FROM (SELECT id,
                               string_split_regex(lower(trim(text)), '\\s+')
                                 AS toks
                             FROM docs)),
              ex AS (SELECT id, blk, unnest(sh) AS s FROM base),
              inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n
                        FROM ex a JOIN ex b
                          ON a.blk = b.blk AND a.s = b.s AND a.id < b.id
                        GROUP BY 1, 2),
              sizes AS (SELECT id, len(sh) AS sz FROM base),
              j AS (SELECT i.id_a, i.id_b,
                      CAST(i.n AS DOUBLE) / (sa.sz + sb.sz - i.n) AS j
                    FROM inter i
                    JOIN sizes sa ON i.id_a = sa.id
                    JOIN sizes sb ON i.id_b = sb.id)
              SELECT id_a, id_b, ${Portable.r6Sql("j")} AS jaccard
              FROM j WHERE j >= 0.5""")),

    // CORPUS PRECONDITION (ADVICE r17): the brute-force oracle below
    // matches the approximate LSH result only because every >=0.999
    // pair in this corpus is a planted EXACT duplicate (recall 1 at
    // any geometry); a natural non-identical near-dup pair would have
    // a small per-run miss probability under autoBits growth and make
    // this row flaky-red. EmbeddingFixtureSpec asserts the testdata
    // invariant (no non-identical pair at cos >= 0.998) so a data
    // change fails loudly in the suite, not as an opaque oracle
    // mismatch. For corpora WITH natural near-dups, opt into
    // autoTables = true (Similarity.tablesForRecall operating curve).
    Q("dedup_embedding_cosine",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        // plant exact-duplicate vectors under shifted ids
        val planted = e.unionByName(
          e.withColumn("id", col("id") + 1000000L))
        Similarity.cosineNearDupPairs(planted, threshold = 0.999)
      },
      Some(s"""WITH e AS (SELECT vec_id AS id,
                           CAST(embedding AS DOUBLE[]) AS vec
                         FROM embeddings
                         UNION ALL
                         SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
                         FROM embeddings),
              p AS (SELECT a.id AS id_a, b.id AS id_b,
                      list_dot_product(a.vec, b.vec)
                        / (sqrt(list_dot_product(a.vec, a.vec))
                           * sqrt(list_dot_product(b.vec, b.vec))) AS cos
                    FROM e a JOIN e b ON a.id < b.id)
              SELECT id_a, id_b, ${Portable.r6Sql("cos")} AS cos
              FROM p WHERE cos >= 0.999""")),

    Q("ann_bruteforce",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        Similarity.bruteForceTopK(e, q, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      Some(s"""WITH $annBaseSql,
              s AS (SELECT q.query_id, e.id,
                      list_dot_product(e.vec, q.qvec)
                        / (sqrt(list_dot_product(e.vec, e.vec))
                           * sqrt(list_dot_product(q.qvec, q.qvec))) AS cos
                    FROM e, q WHERE e.id <> q.query_id),
              r AS (SELECT query_id, id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, id) AS INTEGER) AS rank
                    FROM s)
              SELECT query_id, id AS neighbor_id, rank
              FROM r WHERE rank <= 10""")),

    Q("ann_lsh",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        // the oracle SQL below bakes dim=64 hyperplane literals while
        // lshTopK adapts to the probed dim — enforce the contract here
        // so a testdata dim change fails loudly instead of surfacing as
        // an opaque oracle hash mismatch. Memoized per sfDir: the probe
        // is a driver round-trip that would otherwise land inside the
        // timed bench path on every invocation.
        val dim = annDims.computeIfAbsent(d,
          _ => Similarity.probeDim(e, "vec"))
        require(dim.forall(_ == 64),
          s"ann_lsh oracle is generated for dim=64 but embeddings have " +
            s"dim=${dim.get}; regenerate planesValuesSql for the new dim")
        Similarity.lshTopK(e, q, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      // full pipeline replicated: 4 tables × nBits_eff hyperplane sign
      // bits → signature equi-join candidates → exact cosine re-rank.
      // The embedding dim is 64 in the testdata contract (the Spark
      // side probes it; the literal planes here are generated for 64).
      // r18: lshTopK scales the signature width with the corpus —
      // nBits_eff = max(8, ⌈log2(n/128)⌉) capped at 20
      // (Similarity.effectiveBits; length(bin(m)) = the same bit-length
      // integer math, no float log). The plane family is prefix-stable
      // in nBits (PlanePrefixSpec pins it), so the oracle embeds the
      // full 20-bit family once and masks to bit_idx < nBits_eff.
      Some(s"""WITH $annBaseSql,
              nb AS (SELECT CASE WHEN n <= 128 THEN 8
                       ELSE GREATEST(8, LEAST(20,
                         length(bin((n - 1) // 128)))) END AS bits
                     FROM (SELECT count(*) AS n FROM e)),
              planes(table_idx, bit_idx, p) AS (VALUES
                ${planesValuesSql(nBits = 20, tables = 4, dim = 64)}),
              pl AS (SELECT * FROM planes
                     WHERE bit_idx < (SELECT bits FROM nb)),
              csig AS (SELECT id, table_idx,
                  CAST(sum(CASE WHEN list_dot_product(vec, p) > 0
                    THEN (CAST(1 AS BIGINT) << bit_idx) ELSE 0 END)
                    AS BIGINT) AS sig
                FROM e, pl GROUP BY 1, 2),
              qsig AS (SELECT query_id, table_idx,
                  CAST(sum(CASE WHEN list_dot_product(qvec, p) > 0
                    THEN (CAST(1 AS BIGINT) << bit_idx) ELSE 0 END)
                    AS BIGINT) AS sig
                FROM q, pl GROUP BY 1, 2),
              cand AS (SELECT DISTINCT qs.query_id, cs.id
                FROM csig cs JOIN qsig qs
                  ON cs.table_idx = qs.table_idx AND cs.sig = qs.sig
                WHERE qs.query_id <> cs.id),
              sc AS (SELECT c.query_id, c.id,
                  list_dot_product(ev.vec, qv.qvec)
                    / (sqrt(list_dot_product(ev.vec, ev.vec))
                       * sqrt(list_dot_product(qv.qvec, qv.qvec))) AS cos
                FROM cand c
                JOIN e ev ON c.id = ev.id
                JOIN q qv ON c.query_id = qv.query_id),
              $annTop10Sql""")),

    Q("ann_ivf",
      (s, d) => {
        val (e, q) = annInputs(s, d)
        Similarity.ivfTopK(e, q, k = 10, nCentroids = 16, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      // full pipeline replicated: bottom-16-by-md5 centroid seeds →
      // nearest-centroid assignment → 4-cell probe → exact cosine
      // re-rank over probed cells only
      Some(s"""WITH $annBaseSql,
              cent AS (SELECT id AS centroid_id, vec AS cvec FROM e
                ORDER BY CAST(concat('0x',
                  substr(md5(CAST(id AS VARCHAR)), 1, 15)) AS BIGINT), id
                LIMIT 16),
              assigned AS (SELECT id, vec, cell FROM (
                  SELECT e.id, e.vec, c.centroid_id AS cell,
                    row_number() OVER (PARTITION BY e.id ORDER BY
                      list_dot_product(e.vec, c.cvec)
                        / (sqrt(list_dot_product(e.vec, e.vec))
                           * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.centroid_id) AS r
                  FROM e, cent c) WHERE r = 1),
              probed AS (SELECT query_id, qvec, cell FROM (
                  SELECT q.query_id, q.qvec, c.centroid_id AS cell,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY
                      list_dot_product(q.qvec, c.cvec)
                        / (sqrt(list_dot_product(q.qvec, q.qvec))
                           * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.centroid_id) AS r
                  FROM q, cent c) WHERE r <= 4),
              sc AS (SELECT p.query_id, a.id,
                  list_dot_product(a.vec, p.qvec)
                    / (sqrt(list_dot_product(a.vec, a.vec))
                       * sqrt(list_dot_product(p.qvec, p.qvec))) AS cos
                FROM assigned a JOIN probed p ON a.cell = p.cell
                WHERE p.query_id <> a.id),
              $annTop10Sql""")),

    Q("text_langid",
      (s, d) => {
        TextOps.langId(Tables.documents(s, d), col("doc_id"), col("text"),
          langProfiles(s), idName = "doc_id")
      },
      Some(raw"""WITH $langProfilesSql,
              toks AS (SELECT doc_id,
                         unnest(string_split_regex(lower(trim(text)),
                           '\s+')) AS word
                       FROM documents),
              hits AS (SELECT t.doc_id, p.lang, count(*) AS n
                       FROM toks t JOIN profiles p USING (word)
                       GROUP BY 1, 2),
              best AS (SELECT doc_id, lang,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY n DESC, lang) AS r
                       FROM hits)
              SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang
              FROM documents d
              LEFT JOIN (SELECT doc_id, lang FROM best WHERE r = 1) b
                USING (doc_id)""")),

    Q("text_quality",
      (s, d) => TextOps.qualityFeatures(Tables.documents(s, d), col("text"),
          Seq("the", "a"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_words").cast("long").as("n_words"),
          col("avg_word_len"), col("stopword_ratio"), col("punct_ratio")),
      Some("""SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_words,
                CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1)
                  AS DOUBLE) / len(string_split_regex(trim(text), '\s+'))
                  AS avg_word_len,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x = 'the' OR x = 'a')) AS DOUBLE)
                  / len(string_split_regex(trim(text), '\s+'))
                  AS stopword_ratio,
                CAST(length(text) -
                    length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
              FROM documents""")),

    Q("text_tokens",
      (s, d) => Par.widen(Tables.documents(s, d)).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.pieceCount(col("text")).cast("long").as("n_pieces")),
      Some("""SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_tokens,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces
              FROM documents""")),

    Q("text_fingerprint",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      string_split_regex(lower(trim(text)), '\s+'),
                      t -> CAST(concat('0x', substr(md5(t), 1, 7))
                        AS BIGINT))),
                  (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp
              FROM documents""")),

    // deterministic stratified (per-class) downsampling via hash
    // thresholding — the class-rebalancing op of a training-data
    // pipeline. Unlike RNG sampling (`sampleBy`), the md5 threshold is
    // reproducible across engines, executors, retries, AND reruns —
    // the property that makes a 100 TB sample auditable. Pure pushable
    // filter: no shuffle, no state.
    Q("sample_stratified",
      (s, d) => {
        val perMille = when(col("event_type") === "click", 100)
          .when(col("event_type") === "view", 500)
          .otherwise(1000)
        ev(s, d)
          .filter(pmod(graft.functions.PortableHash
            .md5Long(col("event_id").cast("string"), 15), lit(1000))
            < perMille)
          .select(col("event_id"), col("event_type"))
      },
      Some("""SELECT event_id, event_type FROM events
              WHERE CAST(concat('0x',
                  substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1000
                < CASE WHEN event_type = 'click' THEN 100
                       WHEN event_type = 'view' THEN 500
                       ELSE 1000 END""")),

    // L2-normalize + int8 quantization — the standard pre-index embedding
    // prep (scalar quantization). Per-row arithmetic only (codegen'd, no
    // shuffle); verified by reducing each quantized vector to scalar
    // stats (sum/min/max) so the oracle compare stays on scalar columns.
    // Round-half-up in explicit floor form — portable across engines.
    Q("emb_normalize_quantize",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").as("vec"))
          .withColumn("nrm", Similarity.norm(col("vec")))
        // zero-norm guard: an all-zero vector has no direction — both
        // engines emit NULL stats for it (Spark's 0-divisor NULL and
        // DuckDB's inf/NaN would otherwise diverge). The quantized
        // array materializes ONCE in its own projection: transform() is
        // non-cheap and used three times, which CollapseProject must
        // not (and does not) re-inline.
        val q = when(col("nrm") > 0, transform(col("vec"),
          x => floor(x.cast("double") * lit(127.0) / col("nrm") + lit(0.5))))
        e.select(col("vec_id"), r6(col("nrm")).as("norm"), q.as("q"))
          .select(col("vec_id"), col("norm"),
            aggregate(col("q"), lit(0L), (a, b) => a + b).as("q_sum"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max"))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
                FROM embeddings),
              n AS (SELECT vec_id, vec,
                  sqrt(list_dot_product(vec, vec)) AS nrm FROM e),
              qz AS (SELECT vec_id, nrm,
                  CASE WHEN nrm > 0 THEN list_transform(vec,
                    x -> CAST(floor(x * 127.0 / nrm + 0.5) AS BIGINT))
                  END AS q
                FROM n)
              SELECT vec_id, ${Portable.r6Sql("nrm")} AS norm,
                CAST(list_reduce(q, (a, b) -> a + b) AS BIGINT) AS q_sum,
                CAST(list_reduce(q, (a, b) -> least(a, b)) AS BIGINT)
                  AS q_min,
                CAST(list_reduce(q, (a, b) -> greatest(a, b)) AS BIGINT)
                  AS q_max
              FROM qz""")),

    // PII scrubbing (email redaction) — synthetic emails are planted so
    // the scrubber provably has signal; output is the redaction count +
    // content hash of the scrubbed text (scalar compare). The regex is
    // deliberately in the Java ∩ RE2 dialect subset so Spark and the
    // oracle match byte-for-byte.
    Q("text_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val planted = Tables.documents(s, d).select(col("doc_id"),
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@example.com or +41 79 "),
            (col("doc_id") % 1000).cast("string"), lit(" 00 11 re: "),
            col("text")).as("text"))
        planted.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
            .cast("long").as("n_emails"),
          sha2(regexp_replace(col("text"), emailRe, "<EMAIL>"), 256)
            .as("scrubbed_hash"))
      },
      Some("""WITH planted AS (SELECT doc_id,
                  concat('contact user', doc_id, '@example.com or +41 79 ',
                    doc_id % 1000, ' 00 11 re: ', text) AS text
                FROM documents)
              SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                  AS BIGINT) AS n_emails,
                sha256(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g')) AS scrubbed_hash
              FROM planted""")),

    // end-to-end corpus-curation job composed from the library's text +
    // dedup operators: language gate → quality gate → exact dedup →
    // curated representatives with duplicate counts — the shape of a
    // daily training-data refresh at 100 TB. Exact duplicates are
    // planted under shifted ids so the dedup stage provably has signal.
    // Plan shape: every stage is a key-bounded shuffle (doc id / content
    // hash); the profile table is broadcast; no all-pairs path.
    Q("pipeline_corpus_curation",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
            col("text")))
        val lang = TextOps.langId(planted, col("doc_id"), col("text"),
          langProfiles(s), idName = "doc_id")
        // persisted: consumed twice (dedup + representative join-back);
        // without the cache the langid pipeline would run twice.
        // Harness clears the cache per query, like the dedup generators.
        val gated = persist(TextOps.qualityFeatures(planted,
            col("text"), Seq("the", "a"))
          .join(lang, Seq("doc_id"))
          .filter(col("pred_lang") === "en" && col("n_words") >= 40 &&
            col("stopword_ratio") >= 0.02)
          .select(col("doc_id"), col("text"), col("n_words"),
            col("pred_lang")))
        val reps = Dedup.exact(gated, col("doc_id"), col("text"))
        reps
          .join(gated.select(col("doc_id").as("rep_id"), col("pred_lang"),
            col("n_words")), Seq("rep_id"))
          .select(col("rep_id"), col("pred_lang"),
            col("n_words").cast("long").as("n_words"), col("n_dups"))
      },
      Some(raw"""WITH planted AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 2000000, text FROM documents),
              $langProfilesSql,
              toks AS (SELECT doc_id,
                  unnest(string_split_regex(lower(trim(text)), '\s+'))
                    AS word
                FROM planted),
              hits AS (SELECT t.doc_id, p.lang, count(*) AS n
                FROM toks t JOIN profiles p USING (word) GROUP BY 1, 2),
              lang AS (SELECT p.doc_id, coalesce(b.lang, 'und')
                  AS pred_lang
                FROM planted p LEFT JOIN (
                  SELECT doc_id, lang, row_number() OVER (
                    PARTITION BY doc_id ORDER BY n DESC, lang) AS r
                  FROM hits) b ON p.doc_id = b.doc_id AND b.r = 1),
              q AS (SELECT doc_id, text,
                  len(string_split_regex(trim(text), '\s+')) AS n_words,
                  CAST(len(list_filter(
                      string_split_regex(trim(text), '\s+'),
                      x -> x = 'the' OR x = 'a')) AS DOUBLE)
                    / len(string_split_regex(trim(text), '\s+'))
                    AS stopword_ratio
                FROM planted),
              gated AS (SELECT q.doc_id, q.text, q.n_words, l.pred_lang
                FROM q JOIN lang l USING (doc_id)
                WHERE l.pred_lang = 'en' AND q.n_words >= 40
                  AND q.stopword_ratio >= 0.02),
              reps AS (SELECT sha256(text) AS h, min(doc_id) AS rep_id,
                  count(*) AS n_dups
                FROM gated GROUP BY 1)
              SELECT g.doc_id AS rep_id, g.pred_lang,
                CAST(g.n_words AS BIGINT) AS n_words, r.n_dups
              FROM reps r JOIN gated g ON g.doc_id = r.rep_id""")),

    Q("mm_decode",
      (s, d) => {
        val payload = Multimodal.asPayload(Tables.documents(s, d),
          col("doc_id"), col("text"))
        Multimodal.byteFeatures(Multimodal.decodeStub(payload), 4)
          .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
            col("decoded.width").as("width"),
            col("decoded.height").as("height"),
            col("features").getItem(0).as("f1"),
            col("features").getItem(1).as("f2"),
            col("features").getItem(2).as("f3"),
            col("features").getItem(3).as("f4"))
      },
      Some("""SELECT doc_id AS media_id, length(text) AS n_bytes,
                CAST(length(text) % 640 AS INTEGER) AS width,
                CAST(length(text) % 480 AS INTEGER) AS height,
                CASE WHEN length(text) >= 1
                  THEN CAST(ord(substr(text, 1, 1)) AS DOUBLE) ELSE 0 END AS f1,
                CASE WHEN length(text) >= 2
                  THEN CAST(ord(substr(text, 2, 1)) AS DOUBLE) ELSE 0 END AS f2,
                CASE WHEN length(text) >= 3
                  THEN CAST(ord(substr(text, 3, 1)) AS DOUBLE) ELSE 0 END AS f3,
                CASE WHEN length(text) >= 4
                  THEN CAST(ord(substr(text, 4, 1)) AS DOUBLE) ELSE 0 END AS f4
              FROM documents""")),

    Q("mm_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
            col("text")),
          frameBytes = 64, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          col("frame_len").cast("int").as("frame_len")),
      Some("""SELECT doc_id AS media_id,
                CAST(unnest(generate_series(0,
                  CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 2))
                  AS INTEGER) AS frame_idx,
                CAST(least(64, length(text) -
                  unnest(generate_series(0,
                    CAST(ceil(length(text) / 64.0) AS INTEGER) - 1, 2)) * 64)
                  AS INTEGER) AS frame_len
              FROM documents""")),

    // patch/tile grid for vision pipelines: every media fans out to its
    // 128×128 tile coordinates (edge tiles clipped) — the pre-decode
    // planning step that drives patch-level parallelism; pure integer
    // arithmetic over the decoded dims, two stacked explodes for the 2D
    // grid, zero-size media dropped identically in both engines
    Q("mm_tile_grid",
      (s, d) => {
        val dec = Multimodal.decodeStub(Multimodal.asPayload(
          Tables.documents(s, d), col("doc_id"), col("text")))
        dec.select(col("media_id"), col("decoded.width").as("w"),
          col("decoded.height").as("h"))
          .filter(col("w") > 0 && col("h") > 0)
          .withColumn("tx", explode(sequence(lit(0),
            ceil(col("w") / lit(128.0)).cast("int") - 1)))
          .withColumn("ty", explode(sequence(lit(0),
            ceil(col("h") / lit(128.0)).cast("int") - 1)))
          .select(col("media_id"), col("tx"), col("ty"),
            least(lit(128), col("w") - col("tx") * 128).as("tile_w"),
            least(lit(128), col("h") - col("ty") * 128).as("tile_h"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
                      length(text) % 640 AS w, length(text) % 480 AS h
                    FROM documents),
              g AS (SELECT media_id, w, h,
                      unnest(generate_series(0,
                        CAST(ceil(w / 128.0) AS INTEGER) - 1)) AS tx
                    FROM m WHERE w > 0 AND h > 0),
              g2 AS (SELECT media_id, w, h, tx,
                       unnest(generate_series(0,
                         CAST(ceil(h / 128.0) AS INTEGER) - 1)) AS ty
                     FROM g)
              SELECT media_id, CAST(tx AS INTEGER) AS tx,
                CAST(ty AS INTEGER) AS ty,
                CAST(least(128, w - tx * 128) AS INTEGER) AS tile_w,
                CAST(least(128, h - ty * 128) AS INTEGER) AS tile_h
              FROM g2""")),
  )

  // ---------------------------------- engine-surface widening beyond
  // the reference (no PG equivalent in the reference's SQL, standard in
  // any analytics engine): exact percentiles, rollup, set ops, pivot
  private val widening = Seq(
    // columnar-format matrix beyond parquet: ORC write → read roundtrip
    // (Spark-native ORC datasource; same pushdown/pruning machinery).
    // The oracle reads the same rows from the original parquet table,
    // so the roundtrip itself is what is verified.
    Q("sink_orc",
      (s, d) => {
        val tmp = Scratch.dir("graft_orc")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_shipdate"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
              FROM lineitem""")),

    Q("agg_percentiles",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.25)).as("p"),
          percentile(col("value"), lit(0.5)).as("p50x"),
          percentile(col("value"), lit(0.9)).as("p90x"))
        .select(col("event_type"), r6(col("p")).as("p25"),
          r6(col("p50x")).as("p50"), r6(col("p90x")).as("p90")),
      Some(s"""SELECT event_type,
                ${Portable.r6Sql("quantile_cont(value, 0.25)")} AS p25,
                ${Portable.r6Sql("quantile_cont(value, 0.5)")} AS p50,
                ${Portable.r6Sql("quantile_cont(value, 0.9)")} AS p90
              FROM events GROUP BY 1""")),

    Q("agg_rollup",
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(r6(sum(col("l_quantity"))).as("sum_qty"),
          count(lit(1)).as("n")),
      Some(s"""SELECT l_returnflag, l_linestatus,
                ${Portable.r6Sql("sum(l_quantity)")} AS sum_qty, count(*) AS n
              FROM lineitem
              GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    Q("set_except",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_custkey"))
          .except(o.filter(col("o_orderstatus") === "F")
            .select(col("o_custkey")))
      },
      Some("""SELECT o_custkey FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              EXCEPT
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""")),

    Q("set_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
          .intersect(o.filter(col("o_orderstatus") === "O")
            .select(col("o_custkey")))
      },
      Some("""SELECT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT'
              INTERSECT
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")),

    Q("win_rank_dense_ntile",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).select(col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
      },
      Some("""SELECT o_orderkey,
                CAST(rank() OVER w AS INTEGER) AS rnk,
                CAST(dense_rank() OVER w AS INTEGER) AS drnk,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey)""")),

    Q("dq_schema_drift",
      (s, d) => {
        val spark = s
        import spark.implicits._
        // declared contract with one planted type error and one planted
        // missing column; the actual table also has extras
        val expected = Seq(
          "o_orderkey" -> "long", "o_custkey" -> "long",
          "o_orderstatus" -> "integer" /* actually string */,
          "o_missing_col" -> "double")
        Quality.schemaDrift(Tables.orders(s, d), expected)
          .toDF("col_name", "kind").orderBy("col_name", "kind")
      },
      Some("""SELECT * FROM (VALUES
                ('o_missing_col', 'missing'),
                ('o_orderdate', 'unexpected'),
                ('o_orderpriority', 'unexpected'),
                ('o_orderstatus', 'type_mismatch:string'),
                ('o_totalprice', 'unexpected')) t(col_name, kind)""")),

    Q("agg_pivot",
      (s, d) => ev(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "error"))
        .agg((sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)))
        .select(col("day"), col("click"), col("view"), col("error")),
      Some("""SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS click,
                CAST(sum(CASE WHEN event_type = 'view'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS view,
                CAST(sum(CASE WHEN event_type = 'error'
                    THEN CAST(floor(value * 1e6 + 0.5) AS BIGINT) END)
                  AS DOUBLE) / 1e6 AS error
              FROM events GROUP BY 1""")),
  )

  // ------------------------------------------- round-2 widening: §2.8
  // singles (f_coalesce / f_arith_derive as standalone §2 keys), distinct
  // aggregation, ranked/sessionized windows, ML baselines, stateful
  // streaming dedup
  private val extras = Seq(
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
      Some("""SELECT o.o_orderkey, coalesce(c.c_acctbal, 0.0) AS bal_or_zero
              FROM orders o
              LEFT JOIN (SELECT c_custkey, c_acctbal FROM customer
                         WHERE c_mktsegment = 'BUILDING') c
                ON o.o_custkey = c.c_custkey""")),

    Q("f_arith_derive",
      (s, d) => Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).as("charge")),
      Some("""SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
              FROM lineitem""")),

    Q("agg_distinct_users",
      (s, d) => ev(s, d).groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
              FROM events GROUP BY 1""")),

    Q("win_topk_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d).withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rk"))
      },
      Some("""SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
              FROM orders
              QUALIFY rk <= 3""")),

    Q("win_sessionize",
      (s, d) => sessionIds(s, d, "session_id")
        .select(col("event_id"), col("user_id"), col("session_id")),
      Some(sessionizeSql)),

    Q("ml_linreg",
      (s, d) => graft.ml.Baselines.linearFit(Tables.lineitem(s, d),
        Seq(col("l_returnflag")), col("l_quantity"), col("l_extendedprice")),
      Some(s"""SELECT l_returnflag,
                ${Portable.r4Sql("regr_slope(l_extendedprice, l_quantity)")}
                  AS slope,
                ${Portable.r4Sql(
                  "regr_intercept(l_extendedprice, l_quantity)")}
                  AS intercept,
                count(*) AS n
              FROM lineitem GROUP BY 1""")),

    Q("ml_naive_baseline",
      (s, d) => graft.ml.Baselines.naiveMeanMetrics(Tables.lineitem(s, d),
        col("l_extendedprice")),
      Some(s"""WITH m AS (SELECT avg(l_extendedprice) AS mean FROM lineitem)
              SELECT ${Portable.r6Sql("avg(abs(l_extendedprice - m.mean))")} AS mae,
                ${Portable.r6Sql("sqrt(avg((l_extendedprice - m.mean) * (l_extendedprice - m.mean)))")} AS rmse
              FROM lineitem, m""")),

    Q("stream_dedup_state",
      (s, d) => graft.streaming.DedupStream.runToCompletion(s, d),
      Some("SELECT event_id, event_type, value FROM events")),

    // real as-of join (nearest prior right row per key) — checked
    // against DuckDB's native ASOF LEFT JOIN
    Q("join_asof",
      (s, d) => {
        val (clicks, views) = asofInputs(s, d)
        AsOf.joinPrior(clicks, views, Seq("user_id"),
            col("ts"), col("ts"), Seq("v_value"))
          .select(col("event_id"), col("user_id"), col("v_value"))
      },
      Some(asofPriorSql)),

    // as-of with a staleness bound: the matched prior view must be at
    // most 30 min old or the payload is nulled — same one-shuffle plan,
    // the bound is a row-local filter on the carried match timestamp
    Q("join_asof_tolerance",
      (s, d) => {
        val (clicks, views) = asofInputs(s, d)
        AsOf.joinPriorWithin(clicks, views, Seq("user_id"),
            col("ts"), col("ts"), Seq("v_value"), toleranceSeconds = 1800L)
          .select(col("event_id"), col("user_id"), col("v_value"))
      },
      Some(s"""WITH $asofCtesSql
              SELECT c.event_id, c.user_id,
                CASE WHEN epoch_us(c.ts2) - epoch_us(v.ts2)
                       <= 1800 * 1000000
                     THEN v.v_value END AS v_value
              FROM clicks c ASOF LEFT JOIN views v
                ON c.user_id = v.user_id AND c.ts2 >= v.ts2""")),

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
      Some("""SELECT event_type, CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total,
                count(value) AS n, max(value) AS max_v
              FROM events GROUP BY 1""")),

    Q("join_salted_skew",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val dim = Seq(("click", 1.0), ("view", 0.5), ("error", -1.0))
          .toDF("event_type", "weight")
        Skew.saltedJoin(ev(s, d), dim, "event_type", col("event_id"), 8)
          .select(col("event_id"),
            (col("value") * coalesce(col("weight"), lit(0.0)))
              .as("weighted"))
      },
      Some("""WITH dim(event_type, weight) AS (VALUES
                ('click', 1.0), ('view', 0.5), ('error', -1.0))
              SELECT e.event_id,
                e.value * coalesce(d.weight, 0.0) AS weighted
              FROM events e LEFT JOIN dim d USING (event_type)""")),

    // stateful streaming funnel: two-scalar per-user state advanced by
    // the same strictly-after rule as agg_funnel — the oracle IS the
    // batch funnel histogram, so streaming ≡ batch is the verified
    // contract (the stream_sessionize pattern)
    Q("stream_funnel_state",
      (s, d) => graft.streaming.FunnelStream.runToCompletion(s, d,
        Seq("view", "click", "purchase")),
      Some(funnelStagesSql)),

    // win_sessionize's stateful-streaming twin: flatMapGroupsWithState
    // custom state per user; must equal the batch window formulation
    Q("stream_sessionize",
      (s, d) => graft.streaming.SessionizeStream.runToCompletion(s, d)
        .select(col("event_id"), col("user_id"), col("session_id")),
      Some(sessionizeSql)),

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
      Some(hourlyRollupSql)),

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
      Some("""WITH ev AS (SELECT *,
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
              LEFT JOIN weather w ON date_trunc('hour', l.time) = w.time""")),

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
      Some("""WITH ev AS (SELECT *,
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
              FROM joined""")),
  )

  // -------------------------------------------- round-4 widening:
  // corpus-curation signals, sketch aggregates, interval join, bucketed
  // storage — the operations a 100 TB training-data pipeline leans on
  // when exact global state (distinct counts, nested-loop joins,
  // shuffle-heavy layouts) stops being affordable
  private val curation = Seq(
    // Gopher-style repetition signals per document: distinct-token
    // ratio and most-frequent-bigram share. The token array
    // materializes in its own projection (no lambda-CSE re-split; see
    // Dedup.shinglesFromTokens); the top-bigram count goes through
    // explode + groupBy rather than a per-row nested-lambda scan —
    // the lambda form is O(distinct_bigrams × bigrams) inside ONE task
    // per document, quadratic in document length, while the aggregate
    // form is corpus-linear with ordinary parallelism (max(count) /
    // sum(count) ≡ top bigram share, since sum of counts = |bigrams|)
    Q("text_repetition",
      (s, d) => {
        // token/bigram explosion is CPU-bound: widen the few-file scan
        val toksed = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val tokStats = toksed.select(col("doc_id"),
          r6(size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("distinct_tok_ratio"))
        val bgAgg = toksed
          .select(col("doc_id"),
            // explode_outer: ≥2-token docs always yield ≥1 bigram, and a
            // plain explode would infer size>0 and re-build the bigram
            // array (split inlined per element) below this projection
            explode_outer(transform(sequence(lit(1), size(col("toks")) - 1),
              i => concat_ws(" ", slice(col("toks"), i, lit(2))))).as("b"))
          .groupBy(col("doc_id"), col("b"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("doc_id"))
          .agg(r6(max(col("cnt")).cast("double") / sum(col("cnt")))
            .as("top_bigram_ratio"))
        tokStats.join(bgAgg, Seq("doc_id"))
      },
      Some(s"""WITH base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                     FROM documents),
              b AS (SELECT doc_id, toks,
                      list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1]) AS bg
                    FROM base WHERE len(toks) >= 2)
              SELECT doc_id,
                ${Portable.r6Sql("CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)")} AS distinct_tok_ratio,
                ${Portable.r6Sql("CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)")} AS top_bigram_ratio
              FROM b""")),

    // corpus-wide vocabulary heavy hitters: token frequency top-20 with
    // a deterministic tie-break. orderBy+limit plans as TakeOrdered
    // (per-partition top-k + driver merge of k rows), so no global sort
    // ever materializes; the row_number window then runs on 20 rows.
    Q("text_vocab_topk",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          // explode_outer: token arrays are never empty (see the
          // contamination note) — avoids the inferred size>0 re-split
          .select(explode_outer(col("toks")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
        counts.orderBy(col("n").desc, col("token")).limit(20)
          .withColumn("rk", row_number()
            .over(Window.orderBy(col("n").desc, col("token"))).cast("int"))
          .select(col("rk"), col("token"), col("n"))
      },
      Some(s"""WITH tok AS (SELECT
                       unnest(string_split_regex(lower(trim(text)), '\\s+'))
                         AS token
                     FROM documents),
              c AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
              r AS (SELECT token, n,
                      CAST(row_number() OVER (ORDER BY n DESC, token)
                        AS INTEGER) AS rk
                    FROM c)
              SELECT rk, token, n FROM r WHERE rk <= 20""")),

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
      Some("""SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                CAST(1 AS INTEGER) AS hll_ok
              FROM events GROUP BY 1""")),

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
      Some("""SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                  AS DATE) AS week,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                CAST(1 AS INTEGER) AS merged_ok
              FROM events GROUP BY 1""")),

    // interval join through the banded equi-join decomposition
    // (ops/RangeJoin) — no broadcast nested loop, no size ceiling on
    // the ranges side; overlapping bands deliberately included
    Q("join_range_banded",
      (s, d) => {
        val sp = s; import sp.implicits._
        val bands = Seq((0, 0.0, 60.0), (1, 50.0, 120.0),
          (2, 120.0, 250.0), (3, 250.0, 1000.0)).toDF("band_id", "lo", "hi")
        RangeJoin.banded(ev(s, d), col("value"), bands,
            col("lo"), col("hi"), bucketWidth = 50.0)
          .groupBy(col("band_id"))
          .agg(count(lit(1)).as("n"), (sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)).as("total"))
      },
      Some("""WITH bands(band_id, lo, hi) AS (VALUES
                (0, 0.0, 60.0), (1, 50.0, 120.0),
                (2, 120.0, 250.0), (3, 250.0, 1000.0)),
              j AS (SELECT b.band_id, e.value FROM events e
                    JOIN bands b ON e.value >= b.lo AND e.value < b.hi)
              SELECT band_id, count(*) AS n, CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total
              FROM j GROUP BY 1""")),

    // substring-level duplication signal: fraction of each doc's
    // distinct 8-token spans occurring in >= 2 docs — catches shared
    // boilerplate that document-level dedup misses. Dups planted for
    // every third doc so the signal is provably bimodal (0 .. 1).
    Q("dedup_substring_frac",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat_ws(" ", slice(split(trim(col("text")), "\\s+"),
                2, 100000)).as("text")))
        Dedup.substringDupFraction(planted, col("doc_id"), col("text"),
          k = 8)
      },
      Some(s"""WITH docs AS (SELECT doc_id AS id, text FROM documents
                     UNION ALL
                     SELECT doc_id + 1000000,
                       array_to_string(list_slice(
                         string_split_regex(trim(text), '\\s+'),
                         2, 100000), ' ')
                     FROM documents WHERE doc_id % 3 = 0),
              base AS (SELECT id, list_distinct(list_transform(
                         range(1, greatest(len(toks) - 8, 0) + 2),
                         i -> array_to_string(list_slice(toks, i, i + 7),
                           ' '))) AS sh
                       FROM (SELECT id,
                               string_split_regex(lower(trim(text)),
                                 '\\s+') AS toks
                             FROM docs)),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              shared AS (SELECT s FROM ex GROUP BY s
                         HAVING count(DISTINCT id) >= 2),
              per_doc AS (SELECT ex.id AS id, count(*) AS n_shared
                          FROM ex JOIN shared USING (s) GROUP BY 1)
              SELECT b.id AS id, CAST(len(b.sh) AS INTEGER) AS n_spans,
                ${Portable.r6Sql("CAST(coalesce(p.n_shared, 0) AS DOUBLE) / len(b.sh)")} AS dup_frac
              FROM base b LEFT JOIN per_doc p ON b.id = p.id""")),

    // watermarked stream-stream interval join (state bounded by
    // watermark + join window) — checked against the equivalent batch
    // interval join
    Q("stream_join_enrich",
      (s, d) => graft.streaming.JoinStream.runToCompletion(s, d),
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type,
                       CAST(ts AS TIMESTAMP) AS ts, value FROM events)
              SELECT c.event_id AS click_id, v.event_id AS view_id,
                ${Portable.r6Sql("v.value")} AS view_value
              FROM e c JOIN e v ON c.user_id = v.user_id
                AND c.event_type = 'click' AND v.event_type = 'view'
                AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts""")),

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
      Some("""WITH planted AS (SELECT doc_id,
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
              FROM planted""")),

    // co-located join of two bucketed tables: both sides pay their
    // layout shuffle at write time, the join itself runs exchange-free
    // (merge hint pins SMJ so the bucketed distribution is used instead
    // of a broadcast). PlanRulesSpec asserts the shuffle-free join plan.
    Q("join_bucketed",
      (s, d) => {
        val tmp = Scratch.dir("graft_bucketj")
        s.sql("DROP TABLE IF EXISTS graft_bucketed_o")
        s.sql("DROP TABLE IF EXISTS graft_bucketed_c")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$tmp/o").mode("overwrite")
          .saveAsTable("graft_bucketed_o")
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$tmp/c").mode("overwrite")
          .saveAsTable("graft_bucketed_c")
        s.table("graft_bucketed_o").hint("merge")
          .join(s.table("graft_bucketed_c"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            r6(sum(col("o_totalprice"))).as("total"))
      },
      Some(s"""SELECT c_nationkey, count(*) AS n,
                ${Portable.r6Sql("sum(o_totalprice)")} AS total
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1""")),

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
      Some("""WITH g AS (SELECT event_type, count(*) AS n,
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
              FROM m""")),
    // explicit left-semi join (EXISTS pushed into the join operator —
    // the probe side streams, no duplicate expansion, build side carries
    // only the key)
    Q("join_semi",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_nationkey")),
      Some("""SELECT c_custkey, c_nationkey FROM customer c
              WHERE EXISTS (SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')""")),

    // ordered string aggregation — deterministic via explicit sort, the
    // portable form of LISTAGG/string_agg(ORDER BY)
    Q("agg_string_agg",
      (s, d) => Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("names")),
      Some("""SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names
              FROM nation GROUP BY 1""")),

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
      Some(s"""SELECT event_type,
                ${Portable.r6Sql("quantile_cont(value, 0.5)")} AS p50_exact,
                CAST(1 AS INTEGER) AS approx_ok
              FROM events GROUP BY 1""")),

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
      Some(s"""WITH $gapGridCtesSql,
              joined AS (SELECT g.event_type, g.h, hv.v,
                           CASE WHEN hv.v IS NULL THEN 1 ELSE 0 END
                             AS was_gap
                         FROM grid g LEFT JOIN hourly hv
                           ON g.event_type = hv.event_type AND g.h = hv.h)
              SELECT event_type, h, was_gap,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
                  ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS v_filled
              FROM joined""")),

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
      Some(s"""WITH $gapGridCtesSql,
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
              FROM ctx""")),

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
      Some(s"""SELECT l_orderkey, l_linenumber, measure,
                ${Portable.r6Sql("val")} AS val
              FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount
                    FROM lineitem WHERE l_orderkey < 100)
              UNPIVOT (val FOR measure
                IN (l_quantity, l_extendedprice, l_discount))""")),

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
      Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
                CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total,
                CAST(grouping(event_type) AS INTEGER) AS g_type,
                CAST(grouping(CAST(ts AS DATE)) AS INTEGER) AS g_day
              FROM events
              WHERE CAST(ts AS DATE) <= DATE '2024-01-03'
              GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)),
                ())""")),

    // one-pass column profiling (pipeline monitoring snapshot): all
    // stats for all profiled columns from a single aggregate, unpivoted
    // on the 1-row result
    Q("dq_profile",
      (s, d) => Quality.profile(ev(s, d), Seq("value", "user_id")),
      Some("""SELECT 'value' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(value) AS BIGINT) AS n_nonnull,
                CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
                floor(CAST(min(value) AS DOUBLE) * 1e6 + 0.5) / 1e6
                  AS min_v,
                floor(CAST(max(value) AS DOUBLE) * 1e6 + 0.5) / 1e6
                  AS max_v,
                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS HUGEINT))
                    AS DOUBLE) / count(value) + 0.5) / 1e6 AS mean_v
              FROM events
              UNION ALL
              SELECT 'user_id', count(*), count(user_id),
                count(DISTINCT user_id),
                floor(CAST(min(user_id) AS DOUBLE) * 1e6 + 0.5) / 1e6,
                floor(CAST(max(user_id) AS DOUBLE) * 1e6 + 0.5) / 1e6,
                floor(CAST(sum(CAST(floor(user_id * 1e6 + 0.5) AS HUGEINT))
                    AS DOUBLE) / count(user_id) + 0.5) / 1e6
              FROM events""")),

    // hash-bucketed storage layout (CLUSTERED BY): the write pays one
    // shuffle once; every later aggregation/join on the bucket key runs
    // exchange-free (BucketedScan provides the hash partitioning). The
    // read-back aggregate here is that shuffle-free plan —
    // PlanRulesSpec asserts no Exchange under it.
    Q("sink_bucketed",
      (s, d) => {
        val tmp = Scratch.dir("graft_bucket")
        s.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$tmp/orders_bucketed")
          .mode("overwrite").saveAsTable("graft_bucketed_orders")
        s.table("graft_bucketed_orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            r6(sum(col("o_totalprice"))).as("total"))
      },
      Some(s"""SELECT o_custkey, count(*) AS n_orders,
                ${Portable.r6Sql("sum(o_totalprice)")} AS total
              FROM orders GROUP BY 1""")),

    // stride-windowed token chunking (the RAG / pretraining chunker):
    // 32-token windows every 24 tokens, last window short, >=1 chunk
    // per doc. Pure explode over Column exprs — fanout is data-derived
    Q("text_chunk",
      (s, d) => TextOps.chunk(Tables.documents(s, d), col("doc_id"),
        col("text"), size = 32, stride = 24),
      Some(s"""WITH base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\\s+') AS toks
                     FROM documents),
              c AS (SELECT doc_id, toks,
                      unnest(range(0, greatest(CAST(ceil((len(toks)-32)/24.0)
                        AS INT), 0) + 1)) AS k
                    FROM base)
              SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
                CAST(len(list_slice(toks, k*24+1, k*24+32)) AS INTEGER)
                  AS n_tokens,
                array_to_string(list_slice(toks, k*24+1, k*24+32), ' ')
                  AS chunk_text
              FROM c""")),

    // benchmark decontamination: per-train-doc count of distinct
    // 8-token shingles shared with the eval set (doc_id % 23), flag at
    // >50% overlap. Contamination planted by copying every 46th doc
    // into train with its first token dropped — those rows flag 1, the
    // bulk flags 0, so the signal is provably bimodal. The benchmark
    // shingle set is broadcast (eval suites stay tiny at any corpus
    // scale); train shingles meet it without shuffling shingle strings
    Q("dq_contamination",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 23 === 0)
        val train = docs.filter(col("doc_id") % 23 =!= 0)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 46 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat_ws(" ", slice(split(trim(col("text")), "\\s+"),
                2, 100000)).as("text")))
        Quality.contamination(train, col("doc_id"), col("text"),
          bench, col("text"), k = 8)
      },
      Some(s"""WITH train0 AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 23 <> 0
                UNION ALL
                SELECT doc_id + 1000000, array_to_string(list_slice(
                    string_split_regex(trim(text), '\\s+'), 2, 100000), ' ')
                FROM documents WHERE doc_id % 46 = 0),
              ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(
                       range(1, greatest(len(toks) - 8, 0) + 2),
                       i -> array_to_string(list_slice(toks, i, i + 7),
                         ' ')))) AS s
                     FROM (SELECT string_split_regex(lower(trim(text)),
                             '\\s+') AS toks
                           FROM documents WHERE doc_id % 23 = 0)),
              tr AS (SELECT doc_id, list_distinct(list_transform(
                       range(1, greatest(len(toks) - 8, 0) + 2),
                       i -> array_to_string(list_slice(toks, i, i + 7),
                         ' '))) AS sh
                     FROM (SELECT doc_id, string_split_regex(lower(trim(
                             text)), '\\s+') AS toks FROM train0)),
              t AS (SELECT doc_id, unnest(sh) AS s FROM tr),
              shared AS (SELECT doc_id, count(*) AS n_shared FROM t
                         WHERE s IN (SELECT s FROM ev) GROUP BY doc_id)
              SELECT tr.doc_id, CAST(len(sh) AS INTEGER) AS n_shingles,
                CAST(coalesce(shared.n_shared, 0) AS INTEGER) AS n_shared,
                CAST(coalesce(shared.n_shared, 0) > 0.5 * len(sh) AS INTEGER)
                  AS contaminated
              FROM tr LEFT JOIN shared USING (doc_id)""")),

    // concatenate-and-split sequence packing: every doc's position in
    // the endless token stream cut into 256-token training sequences.
    // The global running sum comes from ScalableRank.globalPrefixSum
    // (bucket totals → broadcast offsets → within-bucket sum), so no
    // global sort / single-partition window ever materializes
    Q("text_pack_sequences",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"))
        ScalableRank.packSequences(base, floor(col("doc_id") / 100),
          Seq(col("doc_id")), col("n_tokens"), seqLen = 256)
      },
      Some(s"""WITH base AS (SELECT doc_id,
                       CAST(len(string_split_regex(lower(trim(text)),
                         '\\s+')) AS BIGINT) AS n_tokens
                     FROM documents),
              p AS (SELECT doc_id, n_tokens,
                      coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS pref
                    FROM base)
              SELECT doc_id, n_tokens, CAST(pref // 256 AS BIGINT) AS seq_id,
                CAST(pref % 256 AS BIGINT) AS seq_offset FROM p""")),
  )

  /** Parameterized DuckDB twin of [[Dedup.bandKeys]]: the tokenize →
    * shingle → md5-base → affine-signature → band-key chain over source
    * CTE `src`, CTE names prefixed with `p` so two sides (corpus and
    * batch) coexist in one WITH. Ends with `{p}bands(id, band_idx,
    * band_key)`. */
  private def bandCtesSql(src: String, p: String): String =
    s"""${p}base AS (SELECT id, $shinglesSql AS sh
                 FROM (SELECT id,
                         string_split_regex(lower(trim(text)), '\\s+') AS toks
                       FROM $src)),
    ${p}hb AS (SELECT id,
                 CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS b
               FROM (SELECT id, unnest(sh) AS s FROM ${p}base)),
    ${p}sigs AS (SELECT id, j,
                   min((1000003 * (j + 1) * b + 666019 * (j + 1))
                     % 2147483647) AS sig
                 FROM ${p}hb, range(16) r(j) GROUP BY 1, 2),
    ${p}bands AS (SELECT id, (j // 4) AS band_idx,
                    string_agg(CAST(sig AS VARCHAR), '-' ORDER BY j)
                      AS band_key
                  FROM ${p}sigs GROUP BY 1, 2)"""

  /** The oracle twin of [[ScalarFns.zorderKey]] over (l_partkey,
    * l_suppkey) mod 1024: column 0 supplies even bit positions, column 1
    * odd — identical shift/mask terms, OR-folded. */
  private val zorderSqlTerms: String = (0 until 10).flatMap(i => Seq(
    s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i})",
    s"((((l_suppkey % 1024) >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  // ------------------------------------------------------- §2.15 round 6
  // The hyperfunction family of the reference's platform (TimescaleDB
  // ships candlestick_agg/time_weight/counter_agg/lttb/heartbeat_agg on
  // the hypertables the reference builds on, infra/db/init.sql:14-18),
  // plus the remaining analytic-SQL families (CUBE, cumulative-rank
  // windows, JSON extraction) and pipeline sampling/histogram ops.
  private val hyper = Seq(
    // candlestick per (event_type, hour): ONE hash aggregate — open and
    // close are min_by/max_by over the padded (µs, id) order key, so no
    // window sort exists anywhere in the plan (TimeSeries.ohlc)
    Q("agg_ohlc",
      (s, d) => TimeSeries.ohlc(ev(s, d), col("event_type"),
        date_trunc("hour", col("ts")), col("ts"), col("value"),
        col("event_id")),
      Some("""WITH k AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                       value,
                       lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                         lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
                     FROM events)
              SELECT event_type AS series, bucket,
                arg_min(value, ok) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ok) AS close,
                count(*) AS n
              FROM k GROUP BY 1, 2""")),

    // LOCF time-weighted average per (event_type, day) — each value
    // weighted by its holding interval; the day's last point closes the
    // span with weight 0 (TimescaleDB time_weight('LOCF'))
    Q("agg_time_weighted",
      (s, d) => TimeSeries.timeWeightedAvg(ev(s, d),
        Seq(col("event_type"), to_date(col("ts")).as("day")),
        col("ts"), col("value"), col("event_id")),
      Some(s"""WITH p AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
                       epoch_us(lead(ts) OVER (PARTITION BY event_type,
                           CAST(ts AS DATE) ORDER BY ts, event_id))
                         - epoch_us(ts) AS w
                     FROM events)
              SELECT event_type, day,
                ${Portable.r6Sql("sum(value * w) / sum(w)")} AS twa,
                count(*) AS n_points
              FROM p GROUP BY 1, 2""")),

    // counter semantics over each user's value stream: a drop is a
    // reset and the post-reset reading is its own increment
    // (TimescaleDB counter_agg/delta)
    Q("f_counter_delta",
      (s, d) => TimeSeries.counterDelta(ev(s, d), col("user_id"),
        col("ts"), col("value"), col("event_id"), keyName = "user_id"),
      Some(s"""WITH d AS (SELECT user_id, value,
                       value - lag(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS d
                     FROM events)
              SELECT user_id, count(*) AS n_points,
                count(*) FILTER (WHERE d < 0) AS n_resets,
                ${Portable.r6Sql("sum(CASE WHEN d IS NULL THEN 0 WHEN d < 0 THEN value ELSE d END)")}
                  AS total_increase
              FROM d GROUP BY 1""")),

    // largest-triangle downsample to 6 h buckets per event_type — the
    // parallel LTOB variant of TimescaleDB's lttb (fixed neighbours, so
    // it fans out as partitioned windows; classic LTTB's
    // previously-selected anchor is inherently sequential)
    Q("downsample_lt3b",
      (s, d) => TimeSeries.largestTriangle(ev(s, d), col("event_type"),
        col("ts"), col("value"), col("event_id"), bucketSeconds = 21600L),
      Some("""WITH p AS (SELECT event_type, ts, event_id, value,
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
              FROM a WHERE rn = 1""")),

    // heartbeat liveness per (event_type, day): every event keeps the
    // stream "live" for 600 s; uptime is the clipped union of those
    // intervals over the day (TimescaleDB heartbeat_agg)
    Q("dq_heartbeat_uptime",
      (s, d) => TimeSeries.heartbeatUptime(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), threshSeconds = 600.0),
      Some(s"""WITH p AS (SELECT event_type, CAST(ts AS DATE) AS day, ts,
                       lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                         ORDER BY ts, event_id) AS nxt
                     FROM events)
              SELECT event_type AS series, day, count(*) AS n_beats,
                ${Portable.r6Sql(
                  "sum(CASE WHEN nxt IS NULL THEN least(600.0, (epoch_us(day + INTERVAL 1 DAY) " +
                    "- epoch_us(ts)) / 1e6) ELSE least(600.0, (epoch_us(nxt) - epoch_us(ts)) / " +
                    "1e6) END) / 86400.0")} AS uptime_frac
              FROM p GROUP BY 1, 2""")),

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
      Some("""WITH e AS (SELECT event_type, dayofweek(ts) AS dow, value
                     FROM events)
              SELECT event_type, dow,
                CAST(GROUPING(event_type) AS INTEGER) AS g_type,
                CAST(GROUPING(dow) AS INTEGER) AS g_dow,
                count(*) AS n, CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS sum_value
              FROM e GROUP BY CUBE (event_type, dow)""")),

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
      Some(s"""SELECT o_orderkey, o_orderpriority, o_totalprice,
                ${Portable.r6Sql("percent_rank() OVER w")} AS pr,
                ${Portable.r6Sql("cume_dist() OVER w")} AS cd
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice)""")),

    // JSON field extraction from the raw event props payload — per-row
    // codegen'd path access, no UDF
    Q("f_json_extract",
      (s, d) => ev(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        length(col("props")).cast("int").as("props_len")),
      Some("""SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                CAST(len(props) AS INTEGER) AS props_len
              FROM events""")),

    // domain-mixture sampling: per-source retention weights decided by
    // a portable per-row hash coin — reproducible, shuffle-free, and
    // the per-domain keep-rate concentrates at its weight at scale
    Q("sample_mixture_weights",
      (s, d) => Sampling.mixtureSample(Tables.documents(s, d),
        col("doc_id"), col("source"),
        weightsPerMille = Map(
          "src0" -> 900, "src1" -> 900, "src2" -> 900, "src3" -> 900,
          "src4" -> 500, "src5" -> 500, "src6" -> 500, "src7" -> 500,
          "src8" -> 250, "src9" -> 250),
        defaultPerMille = 100)
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM documents
              WHERE CAST(concat('0x',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1000
                < CASE WHEN source IN ('src0','src1','src2','src3') THEN 900
                       WHEN source IN ('src4','src5','src6','src7') THEN 500
                       WHEN source IN ('src8','src9') THEN 250
                       ELSE 100 END""")),

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
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS n
                     FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, user_id, n,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY n DESC, user_id) AS rn
                    FROM c)
              SELECT event_type, user_id AS mode_user, n AS n_occurrences
              FROM r WHERE rn = 1""")),

    // exactly-k-per-group sample: md5-ranked rows, first 10 per source —
    // guarantees the stratum SIZE where rate-based sampling only
    // guarantees the expectation
    Q("sample_fixed_k",
      (s, d) => Sampling.fixedKPerGroup(Tables.documents(s, d),
        col("doc_id"), col("source"), k = 10)
        .select(col("doc_id"), col("source")),
      Some("""WITH r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents)
              SELECT doc_id, source FROM r WHERE rn <= 10""")),

    // per-group z-score outlier flags from explicit moment sums,
    // broadcast back onto the fact side (μ/σ formulas spelled out so
    // both engines run identical arithmetic)
    Q("dq_anomaly_zscore",
      (s, d) => Quality.anomalyZscore(ev(s, d), col("event_type"),
        Seq(col("event_id"), col("event_type"), col("value")),
        col("value"), threshold = 2.5),
      Some(s"""WITH s AS (SELECT event_type, sum(value) AS sv,
                       sum(value * value) AS sq, count(*) AS n
                     FROM events GROUP BY 1),
              z AS (SELECT e.event_id, e.event_type, e.value,
                      (e.value - s.sv / s.n)
                        / sqrt(s.sq / s.n - (s.sv / s.n) * (s.sv / s.n)) AS z
                    FROM events e JOIN s USING (event_type))
              SELECT event_id, event_type, value, ${Portable.r6Sql("z")} AS z,
                CAST(abs(z) > 2.5 AS INTEGER) AS is_anomaly
              FROM z""")),

    // unigram-LM document scoring: corpus token frequencies (vocab =
    // count ≥ 500, which makes the planted "dup" token the one OOV
    // word), broadcast vocabulary, per-doc mean log10 probability —
    // the cheap perplexity proxy of a curation pipeline
    Q("text_unigram_logprob",
      (s, d) => TextOps.unigramLogProb(Tables.documents(s, d),
        col("doc_id"), col("text"), minCount = 500L),
      Some(raw"""WITH tok AS (SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)),
                         '\s+')) AS t
                     FROM documents),
              f AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
              tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM f),
              v AS (SELECT t, c FROM f WHERE c >= 500)
              SELECT doc_id,
                ${Portable.r6Sql("avg(log10(coalesce(v.c, 1) / (SELECT n FROM tot)))")} AS avg_logprob,
                count(*) AS n_tokens,
                count(*) FILTER (WHERE v.c IS NULL) AS n_oov
              FROM tok LEFT JOIN v USING (t) GROUP BY doc_id""")),

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
      Some("""WITH c AS (SELECT event_type, count(*) AS n
                     FROM events GROUP BY 1),
              t AS (SELECT sum(n) AS tot FROM c)
              SELECT event_type, 1 AS contained
              FROM c, t WHERE n > 0.1 * tot""")),

    // Z-order (Morton) layout key over two dims — interleaved-bit sort
    // key so parquet min/max pruning serves predicates on either
    // column; pure codegen'd long arithmetic, bit-identical in the
    // oracle's replayed shift/mask expression
    Q("f_zorder_key",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          ScalarFns.zorderKey(Seq(pmod(col("l_partkey"), lit(1024L)),
            pmod(col("l_suppkey"), lit(1024L))), bitsPer = 10).as("zkey")),
      Some(s"""SELECT l_orderkey, l_linenumber,
                CAST(($zorderSqlTerms) AS BIGINT) AS zkey
              FROM lineitem""")),

    // sliding-window streaming rollup: overlapping 6 h windows sliding
    // 1 h — each event fans out to six windows before the stateful
    // shuffle; integer-cents measure keeps the cross-engine sum exact
    Q("stream_sliding_rollup",
      (s, d) => HourlyRollup.runSlidingToCompletion(s, d,
          measure = floor(col("value") * 100 + lit(0.5)))
        .select(col("bucket"), col("event_type"),
          r6(col("sum_v") / 100).as("sum_v"), col("n")),
      Some(s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
                       floor(value * 100 + 0.5) AS vc FROM events),
              w AS (SELECT event_type, vc,
                      unnest(generate_series(
                        date_trunc('hour', ts) - INTERVAL 5 HOUR,
                        date_trunc('hour', ts), INTERVAL 1 HOUR)) AS bucket
                    FROM e)
              SELECT bucket, event_type, ${Portable.r6Sql("sum(vc) / 100")} AS sum_v,
                count(*) AS n
              FROM w GROUP BY 1, 2""")),

    // incremental ingestion dedup: an arriving batch checked against the
    // standing corpus's LSH band index — near-copies (first token
    // dropped) band-match and are dropped, token-reversed docs share no
    // 3-shingles and survive. The corpus is never re-deduplicated.
    Q("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toksOf = split(trim(col("text")), "\\s+")
        val batch = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("id"),
            concat_ws(" ", slice(toksOf, 2, 100000)).as("text"))
          .unionByName(docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 3000000L).as("id"),
              concat_ws(" ", reverse(toksOf)).as("text")))
        Dedup.incrementalNewIds(batch,
          docs.select(col("doc_id").as("id"), col("text")),
          col("id"), col("text"))
      },
      Some(s"""WITH corpus AS (SELECT doc_id AS id, text FROM documents),
              batch AS (SELECT doc_id + 2000000 AS id,
                          array_to_string(list_slice(
                            string_split_regex(trim(text), '\\s+'),
                            2, 100000), ' ') AS text
                        FROM documents WHERE doc_id % 7 = 0
                        UNION ALL
                        SELECT doc_id + 3000000,
                          array_to_string(list_reverse(
                            string_split_regex(trim(text), '\\s+')), ' ')
                        FROM documents WHERE doc_id % 5 = 0),
              ${bandCtesSql("corpus", "c")},
              ${bandCtesSql("batch", "b")},
              dup AS (SELECT DISTINCT bb.id FROM bbands bb
                      JOIN cbands cb USING (band_idx, band_key))
              SELECT id FROM batch
              WHERE id NOT IN (SELECT id FROM dup)""")),

    // cross-table FK audit against deliberately-corrupted dimension
    // snapshots (1% of orders dropped, 10% of customers dropped; part
    // intact as the clean control) — orphan counts per relationship
    Q("dq_referential_integrity",
      (s, d) => Quality.referentialOrphans(Seq(
        ("lineitem_orders", Tables.lineitem(s, d), col("l_orderkey"),
          Tables.orders(s, d).filter(col("o_orderkey") % 100 =!= 0),
          col("o_orderkey")),
        ("orders_customer", Tables.orders(s, d), col("o_custkey"),
          Tables.customer(s, d).filter(col("c_custkey") % 10 =!= 0),
          col("c_custkey")),
        ("lineitem_part", Tables.lineitem(s, d), col("l_partkey"),
          Tables.part(s, d), col("p_partkey")))),
      Some("""SELECT 'lineitem_orders' AS relationship, count(*) AS n_orphans
              FROM lineitem WHERE NOT EXISTS
                (SELECT 1 FROM orders
                 WHERE o_orderkey % 100 <> 0 AND o_orderkey = l_orderkey)
              UNION ALL
              SELECT 'orders_customer', count(*) FROM orders
              WHERE NOT EXISTS
                (SELECT 1 FROM customer
                 WHERE c_custkey % 10 <> 0 AND c_custkey = o_custkey)
              UNION ALL
              SELECT 'lineitem_part', count(*) FROM lineitem
              WHERE NOT EXISTS
                (SELECT 1 FROM part WHERE p_partkey = l_partkey)""")),

    // end-to-end multimodal retrieval pipeline: opaque binary payload →
    // per-partition feature extraction (byte-vector embed stub with the
    // real codec dataflow) → broadcast brute-force cosine top-k. Byte
    // values ≤ 255 over 16 dims keep float and double dot products
    // bit-identical, so ranks are engine-exact
    Q("pipeline_mm_embed_ann",
      (s, d) => {
        val media = Multimodal.asPayload(Tables.documents(s, d),
          col("doc_id"), col("text"))
        val feats = Multimodal.byteFeatures(media, 16)
          .select(col("media_id").as("id"),
            transform(col("features"), x => x.cast("float")).as("vec"))
        val q = feats.filter(col("id") < 3)
          .select(col("id").as("query_id"), col("vec").as("qvec"))
        Similarity.bruteForceTopK(feats, q, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
      },
      Some("""WITH f AS (SELECT doc_id AS id,
                       list_transform(range(1, 17), i ->
                         CAST(CASE WHEN i <= len(text)
                              THEN ord(substr(text, i, 1))
                              ELSE 0 END AS DOUBLE)) AS vec
                     FROM documents),
              q AS (SELECT id AS query_id, vec AS qvec FROM f WHERE id < 3),
              s AS (SELECT q.query_id, f.id,
                      list_dot_product(f.vec, q.qvec)
                        / (sqrt(list_dot_product(f.vec, f.vec))
                           * sqrt(list_dot_product(q.qvec, q.qvec))) AS cos
                    FROM f, q WHERE f.id <> q.query_id),
              r AS (SELECT query_id, id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, id) AS INTEGER) AS rank
                    FROM s)
              SELECT query_id, id AS neighbor_id, rank
              FROM r WHERE rank <= 5""")),

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
      Some("""SELECT event_id,
                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                    OVER w AS DOUBLE) / (count(*) OVER w) + 0.5) / 1e6
                  AS avg_6h,
                CAST(count(*) OVER w AS BIGINT) AS n_6h
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)""")),

    // schema-evolution scan: two parquet generations (one lacks a
    // column) merged into a single read — mergeSchema unions the
    // schemas and back-fills the missing column with NULLs
    Q("scan_schema_evolution",
      (s, d) => {
        val o = Tables.orders(s, d)
        val tmp = Scratch.dir("graft_schema_evo")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/gen1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$tmp/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/gen1", s"$tmp/gen2")
      },
      Some("""SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
                  AS o_orderpriority
              FROM orders""")),

    // equi-width histogram per event_type: tiny per-group min/max
    // aggregate broadcast back, then one hash aggregate over
    // (group, bin) — two scans, two group-sized shuffles at any scale
    Q("agg_histogram",
      (s, d) => TimeSeries.equiWidthHistogram(ev(s, d), col("event_type"),
        col("value"), nBins = 20)
        .select(col("group").as("event_type"), col("bin"), col("bin_lo"),
          col("n")),
      Some(s"""WITH s AS (SELECT event_type, min(value) AS lo, max(value) AS hi
                     FROM events GROUP BY 1),
              b AS (SELECT e.event_type,
                      CAST(least(floor((e.value - s.lo) / ((s.hi - s.lo) / 20)),
                        19) AS INTEGER) AS bin,
                      s.lo, s.hi
                    FROM events e JOIN s USING (event_type))
              SELECT event_type, bin,
                ${Portable.r6Sql("lo + bin * ((hi - lo) / 20)")} AS bin_lo,
                count(*) AS n
              FROM b GROUP BY 1, 2, 3""")),
  )

  // ---------------------------------------------------------------- §2.16
  // event-stream analytics (funnel / retention / streaks), retrieval
  // scoring, and the Benford ingest audit — see ops/EventAnalytics.scala
  // for the scale shapes (user-keyed shuffles only, no global windows)
  private val analytics = Seq(
    // gaps-and-islands: longest consecutive purchase-day streak per user.
    // day − row_number() is constant within a run, so a run is one
    // (user, anchor) group — two user-keyed hash aggs + one per-user
    // window over post-distinct days, never over raw events
    Q("win_streak",
      (s, d) => EventAnalytics.dayStreaks(
        ev(s, d).filter(col("event_type") === "purchase"),
        col("user_id"), col("ts")),
      Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                     FROM events WHERE event_type = 'purchase'),
              a AS (SELECT user_id, d,
                      d - CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY d) AS INTEGER) AS anchor
                    FROM days),
              runs AS (SELECT user_id, anchor, count(*) AS len
                       FROM a GROUP BY 1, 2)
              SELECT user_id, CAST(sum(len) AS INTEGER) AS n_active_days,
                     CAST(max(len) AS INTEGER) AS longest_streak
              FROM runs GROUP BY user_id""")),

    // strict ordered funnel view→click→purchase: stage k needs an event
    // strictly after the user's stage-(k−1) time; one min-aggregate +
    // broadcastable per-user join per step, histogram of deepest stage
    Q("agg_funnel",
      (s, d) => EventAnalytics.funnelStages(ev(s, d), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase")),
      Some(funnelStagesSql)),

    // weekly cohort retention: cohort = Monday of first active week; the
    // (user, week) grid is distinct before counting so count(*) is the
    // distinct-user count — no count-distinct shuffle
    Q("agg_retention_cohort",
      (s, d) => EventAnalytics.cohortRetention(ev(s, d), col("user_id"),
        col("ts")),
      Some("""WITH wk AS (SELECT DISTINCT user_id,
                       date_trunc('week', ts) AS w FROM events),
              f AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1)
              SELECT cohort_week,
                     CAST((w - cohort_week) // 7 AS INTEGER) AS week_offset,
                     CAST(count(*) AS INTEGER) AS n_active
              FROM wk JOIN f USING (user_id) GROUP BY 1, 2""")),

    // BM25 corpus scoring against a fixed query-term probe: per-term tf
    // via size(filter(tokens)) — pure codegen, no explode, no token
    // shuffle; single-row corpus stats broadcast back; fixed-order float
    // sum so the doubles reproduce bit-for-bit (see TextOps.bm25TopK).
    // Oracle mirrors the expression tree exactly — incl. (1.2 + 1.0)
    // computed IN-ENGINE both sides, since the Scala-side k1+1 constant
    // folds to a double that the SQL literal 2.2 would not equal
    Q("text_bm25",
      (s, d) => TextOps.bm25TopK(Tables.documents(s, d), col("doc_id"),
        col("text"), Seq("hash", "join", "scan"), topK = 50),
      Some(s"""WITH base AS (
                SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                  CAST(len(list_filter(toks, t -> t = 'hash')) AS DOUBLE)
                    AS tf0,
                  CAST(len(list_filter(toks, t -> t = 'join')) AS DOUBLE)
                    AS tf1,
                  CAST(len(list_filter(toks, t -> t = 'scan')) AS DOUBLE)
                    AS tf2
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)),
                        '\\s+') AS toks FROM documents)),
              st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
                       sum(CAST(tf0 > 0 AS DOUBLE)) AS df0,
                       sum(CAST(tf1 > 0 AS DOUBLE)) AS df1,
                       sum(CAST(tf2 > 0 AS DOUBLE)) AS df2
                     FROM base),
              sc AS (SELECT doc_id, ${Portable.r6Sql(
                "ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * " +
                  "(0.25 + (0.75 * dl) / avgdl)) + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * " +
                  "(tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (0.25 + (0.75 * dl) / avgdl)) + ln((n - " +
                  "df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (0.25 + " +
                  "(0.75 * dl) / avgdl))")} AS bm25
                FROM base, st)
              SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
              ORDER BY bm25 DESC, doc_id LIMIT 50""")),

    // Benford leading-digit audit on the price measure: 9-group hash agg
    // + broadcast total; digit extraction is floor/log10 arithmetic —
    // no string formatting (engine-dependent), no UDF
    Q("dq_benford",
      (s, d) => Quality.benfordDigits(Tables.lineitem(s, d),
        col("l_extendedprice")),
      Some(s"""WITH pos AS (SELECT l_extendedprice AS v FROM lineitem
                     WHERE l_extendedprice > 0),
              c AS (SELECT CAST(floor(v / power(10, floor(log10(v))))
                      AS INTEGER) AS digit, count(*) AS n
                    FROM pos GROUP BY 1),
              t AS (SELECT count(*) AS tot FROM pos)
              SELECT digit, n, ${Portable.r6Sql("n / tot")} AS observed_freq,
                     ${Portable.r6Sql("log10(1.0 + 1.0 / digit)")} AS expected_freq,
                     ${Portable.r6Sql("abs(n / tot - log10(1.0 + 1.0 / digit))")}
                       AS abs_dev
              FROM c, t""")),

    // character-level near-dup pairs: exact Levenshtein inside cheap
    // prefix blocks — catches typo/OCR edits that token shingles dilute;
    // integer distances, so no float anywhere (see Dedup.editDistancePairs)
    Q("dedup_edit_distance",
      (s, d) => Dedup.editDistancePairs(Tables.documents(s, d),
        col("doc_id"), col("text"), prefixLen = 12, maxDist = 20,
        maxBlockSize = 64),
      Some("""WITH d0 AS (SELECT doc_id, lower(trim(text)) AS t
                    FROM documents),
              d AS (SELECT doc_id, t,
                      count(*) OVER (PARTITION BY substring(t, 1, 12))
                        AS bn
                    FROM d0),
              p AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
                      levenshtein(a.t, c.t) AS dist
                    FROM d a JOIN d c
                      ON substring(a.t, 1, 12) = substring(c.t, 1, 12)
                      AND a.doc_id < c.doc_id
                    WHERE a.bn <= 64 AND c.bn <= 64)
              SELECT id1, id2, CAST(dist AS INTEGER) AS dist
              FROM p WHERE dist <= 20""")),

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
      Some(s"""WITH m AS (SELECT event_type,
                      quantile_cont(value, 0.5) AS med
                    FROM events GROUP BY 1)
              SELECT e.event_type, ${Portable.r6Sql("min(med)")} AS median,
                ${Portable.r6Sql("quantile_cont(abs(value - med), 0.5)")} AS mad
              FROM events e JOIN m USING (event_type)
              GROUP BY e.event_type""")),

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
      Some(s"""WITH b AS (SELECT event_id, event_type,
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
              FROM w""")),

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
      Some(s"""WITH ev0 AS (SELECT user_id, event_type,
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
              GROUP BY cohort_week""")),

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
      Some("""WITH k AS (SELECT event_type, date_trunc('week', ts) AS wk,
                      value,
                      lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                        lpad(CAST(event_id AS VARCHAR), 20, '0') AS ok
                    FROM events)
              SELECT event_type AS series, wk AS week,
                arg_min(value, ok) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ok) AS close,
                CAST(count(*) AS BIGINT) AS n
              FROM k GROUP BY 1, 2""")),

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
      Some("""WITH h AS (SELECT event_type,
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
              FROM h JOIN o USING (event_type)""")),

    // day-over-day ingest-volume drift: daily counts, lag-1 delta, and
    // a >50% swing flag — the window runs over AGGREGATE output (one
    // row per day), so the single-partition sort is calendar-sized,
    // never data-sized
    Q("dq_row_drift",
      (s, d) => {
        val w = Window.orderBy(col("day"))
        ev(s, d).groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .select(col("day"), col("n"),
            (col("n") - lag(col("n"), 1).over(w)).as("delta"),
            (abs(col("n") - lag(col("n"), 1).over(w)) >
              lag(col("n"), 1).over(w) * lit(0.5)).cast("int")
              .as("drift_flag"))
      },
      Some("""WITH dcnt AS (SELECT CAST(ts AS DATE) AS day,
                      count(*) AS n FROM events GROUP BY 1)
              SELECT day, CAST(n AS BIGINT) AS n,
                CAST(n - lag(n) OVER (ORDER BY day) AS BIGINT) AS delta,
                CAST(abs(n - lag(n) OVER (ORDER BY day))
                  > lag(n) OVER (ORDER BY day) * 0.5 AS INTEGER)
                  AS drift_flag
              FROM dcnt""")),

    // SCD2 point-in-time join: the fact row joins the dimension VERSION
    // whose [valid_from, valid_to) window covers its ship date — the
    // warehouse pattern behind "price as of the order date". The
    // versioned dim is synthesized from supplier with disjoint total
    // windows; dim stays broadcast-sized (versions × suppliers), so the
    // fact side never shuffles
    Q("join_scd2",
      (s, d) => {
        val versions = array(
          struct(lit("1900-01-01 00:00:00").as("vf"),
            lit("1997-01-01 00:00:00").as("vt"), lit(1.0).as("f")),
          struct(lit("1997-01-01 00:00:00").as("vf"),
            lit("1999-07-01 00:00:00").as("vt"), lit(1.1).as("f")),
          struct(lit("1999-07-01 00:00:00").as("vf"),
            lit("9999-01-01 00:00:00").as("vt"), lit(1.2).as("f")))
        val dim = Tables.supplier(s, d)
          .select(col("s_suppkey"), col("s_acctbal"),
            explode(versions).as("v"))
          .select(col("s_suppkey"),
            (col("s_acctbal") * col("v.f")).as("rate"),
            col("v.vf").cast("timestamp").as("valid_from"),
            col("v.vt").cast("timestamp").as("valid_to"))
        Tables.lineitem(s, d)
          .join(broadcast(dim), col("l_suppkey") === col("s_suppkey") &&
            col("l_shipdate") >= col("valid_from") &&
            col("l_shipdate") < col("valid_to"))
          .select(col("l_orderkey"), col("l_linenumber"),
            r6(col("rate")).as("rate"))
      },
      Some(s"""WITH dim AS (SELECT s_suppkey, s_acctbal * f AS rate,
                      CAST(vf AS TIMESTAMP) AS valid_from,
                      CAST(vt AS TIMESTAMP) AS valid_to
                    FROM supplier, (VALUES
                      ('1900-01-01 00:00:00', '1997-01-01 00:00:00', 1.0),
                      ('1997-01-01 00:00:00', '1999-07-01 00:00:00', 1.1),
                      ('1999-07-01 00:00:00', '9999-01-01 00:00:00', 1.2))
                      AS v(vf, vt, f))
              SELECT l_orderkey, l_linenumber, ${Portable.r6Sql("rate")} AS rate
              FROM lineitem JOIN dim ON l_suppkey = s_suppkey
                AND l_shipdate >= valid_from AND l_shipdate < valid_to""")),

    // bigram-LM document scoring with hapax counts — the proper
    // conditional p(w2|w1) over the corpus's own bigram statistics; the
    // planted "dup dup dup" runs surface as high-probability repeats,
    // garbled text as hapax-heavy (see TextOps.bigramLogProb)
    Q("text_bigram_logprob",
      (s, d) => TextOps.bigramLogProb(Tables.documents(s, d),
        col("doc_id"), col("text")),
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(
                      text)), '\\s+') AS toks FROM documents),
              b AS (SELECT doc_id,
                      unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bg
                    FROM t WHERE len(toks) >= 2),
              bc AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
              uc AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1
                    FROM bc GROUP BY 1),
              bcw AS (SELECT bg, c2, c1 FROM bc
                    JOIN uc ON string_split(bg, ' ')[1] = w1)
              SELECT doc_id,
                ${Portable.r6Sql("avg(log10(CAST(c2 AS DOUBLE) / c1))")}
                  AS avg_logprob,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax
              FROM b JOIN bcw USING (bg)
              GROUP BY doc_id""")),

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
      Some("""WITH x AS (SELECT event_id, event_type,
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
              FROM x""")),

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
      Some(s"""WITH p AS (SELECT event_type, value AS x,
                      lag(value) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS y
                    FROM events)
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                ${Portable.r6Sql("(count(*) * sum(x * y) - sum(x) * sum(y)) / sqrt((count(*) * sum(x * x) - sum(x) * sum(x)) * (count(*) * sum(y * y) - sum(y) * sum(y)))")}
                  AS autocorr
              FROM p WHERE y IS NOT NULL GROUP BY event_type""")),

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
      Some("""WITH x AS (SELECT user_id, value,
                      max(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id
                        ROWS UNBOUNDED PRECEDING) AS peak
                    FROM events)
              SELECT user_id, max(peak - value) AS max_drawdown,
                     max(peak) AS peak
              FROM x GROUP BY user_id""")),

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
      Some(s"""WITH r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS i,
                      count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
              SELECT event_type,
                ${Portable.r6Sql("CASE WHEN sum(value) <> 0 THEN 2.0 * sum(i * value) / (n * sum(value)) - (n + 1.0) / n END")} AS gini,
                CAST(n AS BIGINT) AS n
              FROM r GROUP BY event_type, n""")),

    // weighted k-per-group sampling (A-ES exponential keys): longer
    // documents proportionally likelier, deterministic via the portable
    // md5 uniform — one partitioned window, no RNG anywhere
    Q("sample_weighted_k",
      (s, d) => Sampling.weightedKPerGroup(Tables.documents(s, d),
        col("doc_id"), col("source"), col("n_chars").cast("double"), k = 10)
        .select(col("doc_id"), col("source")),
      Some("""WITH r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source ORDER BY
                        (0.0 - ln((CAST(concat('0x', substring(md5(
                          CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                          + 1.0) / 4503599627370497.0))
                        / CAST(n_chars AS DOUBLE), doc_id) AS rn
                    FROM documents)
              SELECT doc_id, source FROM r WHERE rn <= 10""")),

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
      Some(s"""WITH s AS (SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
                   FROM events GROUP BY 1)
              SELECT event_id, e.event_type, value,
                ${Portable.r6Sql("least(greatest(value, lo), hi)")} AS winsorized
              FROM events e JOIN s USING (event_type)""")),

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
      Some("""WITH x AS (SELECT user_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
                FROM events)
              SELECT prev AS from_type, event_type AS to_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM x WHERE prev IS NOT NULL GROUP BY 1, 2""")),

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
      Some(s"""WITH ev0 AS (SELECT user_id, event_type,
                       CAST(ts AS TIMESTAMP) AS ts FROM events),
              $funnelCtesSql
              SELECT CAST(count(*) AS INTEGER) AS n_converted,
                ${Portable.r6Sql("avg((epoch_us(t3) - epoch_us(t1)) / 1e6)")}
                  AS avg_seconds,
                ${Portable.r6Sql("max((epoch_us(t3) - epoch_us(t1)) / 1e6)")}
                  AS max_seconds
              FROM v JOIN c USING (user_id) JOIN p USING (user_id)""")),

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
      Some(s"""WITH c AS (SELECT user_id, event_type, count(*) AS n
                     FROM events GROUP BY 1, 2)
              SELECT user_id,
                ${Portable.r6Sql("ln(sum(n)) - sum(n * ln(n)) / sum(n)")} AS entropy,
                CAST(sum(n) AS BIGINT) AS n_events
              FROM c GROUP BY user_id""")),

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
      Some("""WITH x AS (SELECT user_id, value,
                  lag(value) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv,
                  lead(value) OVER (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nv
                FROM events)
              SELECT user_id, CAST(count(*) AS INTEGER) AS n_dips,
                     min(value) AS min_dip
              FROM x WHERE value < pv AND value < nv GROUP BY 1""")),

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
      Some(s"""WITH s AS (SELECT event_type, min(value) AS lo,
                     max(value) AS hi FROM events GROUP BY 1)
              SELECT event_id, e.event_type, value,
                CASE WHEN hi > lo
                  THEN ${Portable.r6Sql("(value - lo) / (hi - lo)")} END AS scaled
              FROM events e JOIN s USING (event_type)""")),

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
      Some(s"""WITH $kmeansFirstPassSql,
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
              FROM a2""")),

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
      Some("""SELECT event_id, user_id, value,
                floor(median(value) OVER (PARTITION BY user_id
                  ORDER BY CAST(ts AS TIMESTAMP), event_id
                  ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
                  * 1e6 + 0.5) / 1e6 AS roll_median
              FROM events""")),
  )

  // ---------------------------------------------------------------- §2.17
  private val hyper2 = Seq(
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
      Some(s"""WITH t AS (SELECT event_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS p
                    FROM events),
                   r AS (SELECT event_id,
                      CASE WHEN p <> 0 THEN (value - p) / p END AS x
                    FROM t)
              SELECT event_id,
                ${Portable.r6Sql("x")}
                  AS pct_change
              FROM r""")),

    // time-in-state accounting (TimescaleDB state_agg): dwell time =
    // hold each event's type until the user's next event; exact integer
    // microsecond sums
    Q("agg_state_durations",
      (s, d) => TimeSeries.stateDurations(ev(s, d), col("user_id"),
        col("event_type"), col("ts"), col("event_id"), keyName = "user_id"),
      Some(stateDurationsSql)),

    // missing-data gap listing per series (the outage twin of
    // dq_heartbeat_uptime): intervals between consecutive points longer
    // than 15 minutes
    Q("dq_gap_detect",
      (s, d) => TimeSeries.gapDetect(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), thresholdSeconds = 900,
        seriesName = "event_type"),
      Some(s"""WITH t AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
                      lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                    FROM events)
              SELECT event_type, ts2 AS gap_start, nxt AS gap_end,
                ${Portable.r6Sql("CAST(epoch_us(nxt - ts2) AS DOUBLE) / 1e6")}
                  AS gap_secs
              FROM t WHERE nxt IS NOT NULL
                AND epoch_us(nxt - ts2) > CAST(900 AS BIGINT) * 1000000""")),

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
      Some(s"""WITH src AS (SELECT event_id, user_id,
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
              FROM t""")),

    // day-over-day churn over the distinct (user, day) grid; the last
    // observed day is excluded (everyone would "churn" because the data
    // ends, not because they left)
    Q("agg_churn",
      (s, d) => EventAnalytics.dailyChurn(ev(s, d), col("user_id"),
        col("ts")),
      Some("""WITH d AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              mx AS (SELECT max(day) AS mw FROM d)
              SELECT a.day,
                CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
                count(*) AS active
              FROM d a CROSS JOIN mx
              LEFT JOIN d b ON b.day = a.day + 1 AND b.user_id = a.user_id
              WHERE a.day < mx.mw GROUP BY 1""")),

    // DAU/MAU stickiness: distinct users per day over distinct users in
    // the calendar month — the standard engagement ratio
    Q("agg_stickiness",
      (s, d) => EventAnalytics.stickiness(ev(s, d), col("user_id"),
        col("ts")),
      Some(s"""WITH d AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              dau AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
              mau AS (SELECT CAST(date_trunc('month', day) AS DATE) AS m,
                       count(DISTINCT user_id) AS mau FROM d GROUP BY 1)
              SELECT day, dau, mau,
                ${Portable.r6Sql("dau * 1.0 / mau")} AS stickiness
              FROM dau JOIN mau
                ON CAST(date_trunc('month', day) AS DATE) = mau.m""")),

    // per-user session statistics over the 30-minute-gap sessions of
    // win_sessionize: session count, mean duration, mean events/session
    Q("agg_session_stats",
      (s, d) => EventAnalytics.sessionStats(ev(s, d), col("user_id"),
        col("ts"), col("event_id")),
      Some(s"""WITH $sessionIdsSql,
              s AS (SELECT user_id, sid, count(*) AS n_ev,
                      epoch_us(max(ts2) - min(ts2)) AS dur_us
                    FROM s0 GROUP BY 1, 2)
              SELECT user_id, count(*) AS n_sessions,
                ${Portable.r6Sql("CAST(sum(dur_us) AS DOUBLE) / 1e6 / count(*)")}
                  AS avg_dur_secs,
                ${Portable.r6Sql("sum(n_ev) * 1.0 / count(*)")} AS avg_events
              FROM s GROUP BY 1""")),

    // leakage-safe group split: every doc of a source lands in the same
    // split (near-dups cluster within sources, so a row-hash split
    // leaks); portable md5 coin on the GROUP key, pure per-row expr
    Q("split_group_hash",
      (s, d) => Sampling.groupHashSplit(Tables.documents(s, d),
        col("source"), trainPerMille = 800)
        .select(col("doc_id"), col("source"), col("split")),
      Some("""SELECT doc_id, source,
                CASE WHEN CAST(concat('0x', substr(md5(source), 1, 15))
                    AS BIGINT) % 1000 < 800
                  THEN 'train' ELSE 'test' END AS split
              FROM documents""")),

    // per-doc top-3 keywords by tf·idf over the corpus's own statistics;
    // scores rounded before ranking so ties break identically
    Q("text_keyword_extract",
      (s, d) => TextOps.keywordsTopK(Tables.documents(s, d),
        col("doc_id"), col("text"), k = 3)
        .select(col("doc_id"), col("token"), col("rank"), col("score")),
      Some(raw"""WITH tok AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\s+'))
                        AS token
                    FROM documents),
              tf AS (SELECT doc_id, token, count(*) AS tf
                    FROM tok GROUP BY 1, 2),
              df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM documents),
              sc AS (SELECT tf.doc_id, tf.token,
                      ${Portable.r6Sql("tf.tf * ln(n.n * 1.0 / df.df)")} AS score
                    FROM tf JOIN df USING (token) CROSS JOIN n),
              r AS (SELECT doc_id, token, score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, token) AS rank
                    FROM sc)
              SELECT doc_id, token, CAST(rank AS INTEGER) AS rank, score
              FROM r WHERE rank <= 3""")),

    // nearest-in-time enrichment, either direction (pandas merge_asof
    // direction='nearest'): each click matched to the user's closest
    // view; ties to the earlier view. One shuffle+sort, both directions
    // from the same sorted union — never a per-user cross product
    Q("join_nearest",
      (s, d) => {
        val clicks = ev(s, d).filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        // unique per (user, ts): min event_id pins the duplicate-ts tie
        val views = ev(s, d).filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts"))
          .agg(min(col("event_id")).as("view_id"))
        AsOf.joinNearest(clicks, views, Seq("user_id"),
          col("ts"), col("ts"), Seq("view_id"))
          .select(col("click_id"), col("view_id"))
      },
      Some("""WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'click'),
              v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events WHERE event_type = 'view'),
              b AS (SELECT c.event_id AS click_id, v.event_id AS view_id,
                      row_number() OVER (PARTITION BY c.event_id
                        ORDER BY abs(epoch_us(v.ts - c.ts)), v.ts,
                          v.event_id) AS rn
                    FROM c JOIN v USING (user_id))
              SELECT click_id, view_id FROM b WHERE rn = 1""")),

    // instantaneous counter rate per point (TimescaleDB irate): delta
    // over elapsed seconds with the counter-reset rule; exact µs
    // elapsed, duplicate-timestamp pairs yield NULL not ±inf
    Q("f_rate_irate",
      (s, d) => TimeSeries.irate(ev(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"))
        .select(col("event_id"), col("rate")),
      Some(s"""WITH t AS (SELECT event_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv,
                      epoch_us(CAST(ts AS TIMESTAMP) -
                        lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS dt_us
                    FROM events)
              SELECT event_id,
                ${Portable.r6Sql("CASE WHEN dt_us > 0 THEN (CASE WHEN value >= pv THEN value - pv ELSE value END) / (CAST(dt_us AS DOUBLE) / 1e6) END")} AS rate
              FROM t WHERE pv IS NOT NULL""")),

    // downtime attributed per calendar day: dq_gap_detect's gaps split
    // across the days they overlap with exact µs clipping — a gap over
    // midnight books seconds on both days
    Q("dq_gap_by_day",
      (s, d) => TimeSeries.gapDowntimeByDay(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), thresholdSeconds = 900,
        seriesName = "event_type"),
      Some(s"""WITH t AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
                      lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                    FROM events),
              g AS (SELECT event_type, ts2 AS gs, nxt AS ge FROM t
                    WHERE nxt IS NOT NULL
                      AND epoch_us(nxt - ts2) > CAST(900 AS BIGINT) * 1000000),
              x AS (SELECT event_type, gs, ge,
                      unnest(generate_series(
                        CAST(CAST(gs AS DATE) AS TIMESTAMP),
                        CAST(CAST(ge AS DATE) AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS day
                    FROM g)
              SELECT event_type, CAST(day AS DATE) AS day,
                ${Portable.r6Sql("CAST(sum(epoch_us(least(ge, day + INTERVAL 1 DAY) - greatest(gs, day))) AS DOUBLE) / 1e6")} AS down_secs
              FROM x GROUP BY 1, 2""")),

    // URL canonicalization dedup: scheme/www/query/trailing-slash
    // variants planted per doc collapse onto one canonical key
    Q("dedup_url_canonical",
      (s, d) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
          when(col("doc_id") % 4 < 2, "www.").otherwise(""),
          lit("site"), (col("doc_id") % 50).cast("string"),
          lit(".example.com/p"), (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 3 === 0, "/").otherwise(""),
          when(col("doc_id") % 5 === 0, "?utm_source=feed").otherwise(""))
        Tables.documents(s, d)
          .select(col("doc_id"), ScalarFns.canonicalUrl(url).as("canonical"))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("rep_doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
                      (CASE WHEN doc_id % 2 = 0 THEN 'https://'
                            ELSE 'http://' END)
                      || (CASE WHEN doc_id % 4 < 2 THEN 'www.' ELSE '' END)
                      || 'site' || CAST(doc_id % 50 AS VARCHAR)
                      || '.example.com/p' || CAST(doc_id % 20 AS VARCHAR)
                      || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                      || (CASE WHEN doc_id % 5 = 0
                          THEN '?utm_source=feed' ELSE '' END) AS url
                    FROM documents),
              c AS (SELECT doc_id,
                      regexp_replace(regexp_replace(regexp_replace(
                        regexp_replace(lower(url), '^https?://', ''),
                        '^www\.', ''), '\?.*$', ''), '/$', '')
                        AS canonical
                    FROM u)
              SELECT canonical, count(*) AS n_urls,
                min(doc_id) AS rep_doc_id
              FROM c GROUP BY 1""")),

    // exact weighted median per group (lower median at unit weights);
    // integer cumulative weights keep the boundary comparison exact
    Q("agg_weighted_percentile",
      (s, d) => Aggregates.weightedMedian(ev(s, d), col("event_type"),
        col("value"), lit(1) + col("event_id") % 5, col("event_id"),
        groupName = "event_type"),
      Some(s"""WITH t AS (SELECT event_type, value, event_id,
                      1 + event_id % 5 AS w FROM events),
              c AS (SELECT event_type, value, w,
                      sum(w) OVER (PARTITION BY event_type
                        ORDER BY value, event_id
                        ROWS UNBOUNDED PRECEDING) AS cw,
                      sum(w) OVER (PARTITION BY event_type) AS tw
                    FROM t)
              SELECT event_type, ${Portable.r6Sql("min(value)")} AS weighted_median
              FROM c WHERE 2 * cw >= tw GROUP BY 1""")),

    // exactly-once ingestion audit: natural-key groups delivered more
    // than once; duplicates PLANTED by re-delivering every 97th event,
    // so a pass proves detection, not absence of input dups
    Q("dq_duplicate_events",
      (s, d) => {
        val base = ev(s, d).select(col("user_id"), col("ts"),
          col("event_type"), col("event_id"))
        val redelivered = base.filter(col("event_id") % 97 === 0)
        Quality.duplicateGroups(base.unionByName(redelivered),
          "user_id" -> col("user_id"), "ts" -> col("ts"),
          "event_type" -> col("event_type"))
      },
      Some("""WITH aug AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       event_type FROM events
                    UNION ALL
                    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_id % 97 = 0)
              SELECT user_id, ts, event_type, count(*) AS n
              FROM aug GROUP BY 1, 2, 3 HAVING count(*) > 1""")),

    // rolling 7-day distinct actives per day (WAU): distinct user-day
    // grid, calendar-sized day list broadcast into the range join
    Q("agg_rolling_wau",
      (s, d) => EventAnalytics.rollingActiveUsers(ev(s, d),
        col("user_id"), col("ts"), windowDays = 7),
      Some("""WITH g AS (SELECT DISTINCT
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day, user_id FROM events),
              d AS (SELECT DISTINCT day FROM g)
              SELECT d.day, count(DISTINCT g.user_id) AS wau
              FROM d JOIN g ON g.day BETWEEN d.day - 6 AND d.day
              GROUP BY 1""")),

    // load-duration curve per series: descending-rank decile bands with
    // mean level — band 1 is the peak-load decile
    Q("agg_load_duration",
      (s, d) => EventAnalytics.loadDurationBands(ev(s, d),
        col("event_type"), col("value"), col("event_id"), nBands = 10,
        seriesName = "event_type"),
      Some("""WITH r AS (SELECT event_type, value,
                      ntile(10) OVER (PARTITION BY event_type
                        ORDER BY value DESC, event_id) AS band
                    FROM events)
              SELECT event_type, band,
                floor(CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / count(*) + 0.5) / 1e6 AS avg_value,
                count(*) AS n
              FROM r GROUP BY 1, 2""")),

    // per-day ramp extremes (largest up/down step between consecutive
    // readings) — order-independent max/min, no float-sum caveats
    Q("agg_ramp_rate",
      (s, d) => TimeSeries.rampRates(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), col("value"),
        seriesName = "event_type"),
      Some(s"""WITH t AS (SELECT event_type,
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day,
                      value - lag(value) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS d
                    FROM events)
              SELECT event_type, day, ${Portable.r6Sql("max(d)")} AS max_ramp_up,
                ${Portable.r6Sql("min(d)")} AS max_ramp_down
              FROM t WHERE d IS NOT NULL GROUP BY 1, 2""")),

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
      Some(s"""WITH t AS (SELECT event_id, ts,
                      max(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                        OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS last_us
                    FROM events)
              SELECT event_id,
                ${Portable.r6Sql("CAST(epoch_us(CAST(ts AS TIMESTAMP)) - last_us AS DOUBLE) / 1e6")} AS secs_since_purchase
              FROM t""")),

    // join_asof through the CUSTOM physical operator (LogicalPlan +
    // SparkStrategy + merge-scan SparkPlan — the deepest extension
    // rung): same semantics and the same oracle as the union-window
    // composition, but the physical plan is two declared
    // exchange+sorts feeding a streaming one-pass merge with O(1)
    // state per partition
    Q("join_asof_native",
      (s, d) => {
        val (clicks, views) = asofInputs(s, d)
        graft.plans.NativeAsOf.joinPrior(clicks, views, Seq("user_id"),
            "ts", "ts", Seq("v_value"))
          .select(col("event_id"), col("user_id"), col("v_value"))
      },
      Some(asofPriorSql)),

    // streaming twin of agg_state_durations: per-user (state, since)
    // scalars; each event closes and emits the previous dwell interval,
    // the open last interval is never emitted — summing the closed
    // dwells must equal the batch lead-based accounting
    Q("stream_state_durations",
      (s, d) => graft.streaming.StateDurationStream.runToCompletion(s, d),
      Some(stateDurationsSql)),

    // stateful streaming threshold-crossing alerts (edge detection, one
    // scalar of state per user) — must equal the batch lag formulation
    Q("stream_rate_alert",
      (s, d) => graft.streaming.RateAlertStream
        .runToCompletion(s, d, threshold = 90.0),
      Some("""WITH t AS (SELECT event_id, user_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv
                    FROM events)
              SELECT event_id, user_id FROM t
              WHERE pv < 90 AND value >= 90""")),

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
      Some(s"""WITH v AS (SELECT user_id,
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
              FROM v GROUP BY 1""")),

    // classic star-schema rollup: fact ⋈ three broadcast dims (the fact
    // side never shuffles for a join — plan-asserted in the spec), then
    // one keyed aggregate
    Q("join_star_broadcast",
      (s, d) => ordersByRegion(s, d)
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          r6(sum(col("o_totalprice"))).as("revenue")),
      Some(s"""SELECT r.r_name, n.n_name, count(*) AS n_orders,
                ${Portable.r6Sql("sum(o.o_totalprice)")} AS revenue
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              GROUP BY 1, 2""")),

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
      Some(s"""WITH rev AS (SELECT n.n_name, r.r_name,
                      ${Portable.r6Sql("sum(o.o_totalprice)")} AS revenue
                    FROM orders o
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN nation n ON c.c_nationkey = n.n_nationkey
                    JOIN region r ON n.n_regionkey = r.r_regionkey
                    GROUP BY 1, 2)
              SELECT n_name, r_name, revenue,
                ${Portable.r6Sql("revenue / sum(revenue) OVER (PARTITION BY r_name)")}
                  AS region_share
              FROM rev""")),

    // counter mergeability: weekly totals built from daily
    // (first, last, inner-increase) partials with midnight boundary
    // terms must equal the direct weekly computation — which is exactly
    // what the oracle computes from raw rows
    Q("agg_counter_merge",
      (s, d) => TimeSeries.counterTotalsMerged(ev(s, d), col("user_id"),
        col("ts"), col("event_id"), col("value"), keyName = "user_id"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
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
              FROM t GROUP BY 1, 2""")),
  )

  // ------------------------------------------- §2.18 round-8 widening
  private val hyper3 = Seq(
    // gaps-and-islands: each event opens a 15-minute activity window;
    // overlapping/touching windows merge into maximal islands — the
    // interval-union primitive (session coverage, outage windows)
    Q("agg_interval_coalesce",
      (s, d) => quarterHourIntervals(s, d)(Intervals.coalesceIntervals),
      Some(s"""WITH $quarterHourIvSql,
              $islandCtesSql
              SELECT user_id, min(s) AS island_start, max(e) AS island_end,
                count(*) AS n_intervals
              FROM g GROUP BY user_id, island""")),

    // union coverage: total covered seconds per user with overlap
    // counted once — same single keyed window, islands-sized reduce
    Q("agg_interval_coverage",
      (s, d) => quarterHourIntervals(s, d)(Intervals.unionCoverage),
      Some(s"""WITH $quarterHourIvSql,
              $islandCtesSql,
              i AS (SELECT user_id, min(s) AS s, max(e) AS e
                    FROM g GROUP BY user_id, island)
              SELECT user_id,
                ${Portable.r6Sql("CAST(sum(epoch_us(e) - epoch_us(s)) AS DOUBLE) / 1e6")} AS covered_secs,
                count(*) AS n_islands
              FROM i GROUP BY 1""")),

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
      Some(s"""WITH t AS (SELECT event_id, vc,
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
              FROM f""")),

    // RSI-14 (simple-average form): 100·G/(G+L) over one-step diffs;
    // flat/first frames report NULL
    Q("win_rsi",
      (s, d) => TimeSeries.rsi(ev(s, d), col("user_id"), col("ts"),
        col("event_id"), col("value"), frameRows = 14)
        .select(col("event_id"), col("rsi")),
      Some(s"""WITH d AS (SELECT event_id, user_id,
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
              FROM t""")),

    // forward as-of: next view at-or-after each click — the
    // merge_asof(direction='forward') twin of join_asof, same single
    // shuffle+sort composition with the frame looking forward
    Q("join_asof_forward",
      (s, d) => {
        val (clicks, views) = asofInputs(s, d)
        AsOf.joinNext(clicks, views, Seq("user_id"),
            col("ts"), col("ts"), Seq("v_value"))
          .select(col("event_id"), col("user_id"), col("v_value"))
      },
      Some(s"""WITH $asofCtesSql
              SELECT c.event_id, c.user_id, v.v_value
              FROM clicks c ASOF LEFT JOIN views v
                ON c.user_id = v.user_id AND c.ts2 <= v.ts2""")),

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
      Some(s"""WITH rng AS (SELECT event_type, min(value) AS lo,
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
              FROM c GROUP BY 1, 2""")),

    // deterministic Poisson(1) bootstrap: per-row replication counts
    // from the md5 coin, aggregated per event type — the reproducible
    // bagging resample (no RNG state, repartition-stable)
    Q("sample_poisson_bootstrap",
      (s, d) => Sampling.poissonBootstrap(ev(s, d), col("event_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_draws"),
          (sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)).as("total_value")),
      Some("""WITH k AS (SELECT event_type, value,
                      CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                        WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
                        ELSE 4 END AS k
                    FROM (SELECT event_type, value,
                            CAST(concat('0x', substr(md5(
                              CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                              % 1000 AS u
                          FROM events))
              SELECT event_type, CAST(sum(k) AS BIGINT) AS n_draws,
                CAST(sum(k * CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                  / 1e6 AS total_value
              FROM k WHERE k > 0 GROUP BY 1""")),

    // corpus-wide duplicate-chunk scrub (line-level dedup): exact copies
    // planted (doc_id + 10^6) so every chunk has a duplicate; the
    // canonical first occurrence survives, every other copy is removed
    Q("text_chunk_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.unionByName(
          docs.withColumn("doc_id", col("doc_id") + 1000000L))
        TextOps.chunkDedup(corpus, col("doc_id"), col("text"), size = 16)
      },
      Some("""WITH docs2 AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents),
              base AS (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                     FROM docs2),
              c AS (SELECT doc_id, toks,
                      unnest(range(0, greatest(CAST(
                        ceil((len(toks) - 16) / 16.0) AS INT), 0) + 1)) AS k
                    FROM base),
              ch AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
                       len(list_slice(toks, k * 16 + 1, k * 16 + 16))
                         AS n_tokens,
                       CAST(concat('0x', substr(md5(array_to_string(
                         list_slice(toks, k * 16 + 1, k * 16 + 16), ' ')),
                         1, 15)) AS BIGINT) AS h
                     FROM c),
              r AS (SELECT doc_id, n_tokens,
                      CASE WHEN row_number() OVER (PARTITION BY h
                        ORDER BY doc_id, chunk_id) = 1 THEN 1 ELSE 0 END
                        AS keep
                    FROM ch)
              SELECT doc_id, CAST(sum(keep) AS BIGINT) AS chunks_kept,
                CAST(sum(1 - keep) AS BIGINT) AS chunks_removed,
                CAST(sum(keep * n_tokens) AS BIGINT) AS tokens_kept
              FROM r GROUP BY 1""")),

    // collocation mining: document-frequency PMI over the top-50 vocab —
    // vocabulary broadcast, per-doc pair fanout bounded by C(50, 2)
    Q("agg_cooccurrence",
      (s, d) => TextOps.cooccurrence(Tables.documents(s, d), col("doc_id"),
        col("text"), vocabSize = 50, minPairCount = 2L),
      Some(raw"""WITH tok AS (SELECT DISTINCT doc_id, unnest(
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
              GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // sharded JSONL corpus export: md5-hash shard assignment, written as
    // partitioned JSON and read back — the training-data delivery format
    Q("sink_jsonl_sharded",
      (s, d) => {
        val tmp = Scratch.dir("graft_jsonl")
        Tables.documents(s, d)
          .withColumn("shard",
            pmod(graft.functions.PortableHash
              .md5Long(col("doc_id").cast("string"), 15), lit(8L))
              .cast("int"))
          .select(col("doc_id"), col("text"), col("lang"), col("shard"))
          .write.mode("overwrite").partitionBy("shard").json(tmp)
        s.read.json(tmp)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("total_chars"))
      },
      Some("""SELECT CAST(CAST(concat('0x', substr(md5(
                  CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT)
                  AS shard,
                count(*) AS n_docs,
                CAST(sum(length(text)) AS BIGINT) AS total_chars
              FROM documents GROUP BY 1""")),

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
      Some(s"""SELECT event_id,
                ${Portable.r6Sql("(vc - avg(vc) OVER (PARTITION BY event_type, dw, hr)) / 100")} AS residual
              FROM (SELECT event_id, event_type,
                      round(value * 100, 0) AS vc,
                      date_part('dow', CAST(ts AS TIMESTAMP)) AS dw,
                      hour(CAST(ts AS TIMESTAMP)) AS hr
                    FROM events)""")),

    // PSI drift gate between the month's first-half (ref) and
    // second-half (live) value distributions per event type
    Q("dq_distribution_drift",
      (s, d) => Quality.psiDrift(
        ev(s, d).withColumn("cohort",
          when(col("ts") < lit("2024-01-16").cast("timestamp_ntz"), "ref")
            .otherwise("live")),
        col("event_type"), col("cohort"), col("value"),
        bins = 10, threshold = 0.2),
      Some(s"""WITH src AS (SELECT event_type AS g,
                      CASE WHEN CAST(ts AS TIMESTAMP)
                          < TIMESTAMP '2024-01-16' THEN 'ref'
                        ELSE 'live' END AS c, value AS v FROM events),
              rng AS (SELECT g, min(v) AS lo, max(v) AS hi FROM src
                      GROUP BY 1),
              b AS (SELECT s.g, s.c,
                      CASE WHEN r.hi = r.lo THEN 0
                        ELSE least(CAST(floor((s.v - r.lo)
                          / ((r.hi - r.lo) / 10.0)) AS INT), 9) END AS bin
                    FROM src s JOIN rng r USING (g)),
              n AS (SELECT g, c, bin, count(*) AS n FROM b GROUP BY 1, 2, 3),
              tr AS (SELECT g, sum(n) AS t FROM n WHERE c = 'ref'
                     GROUP BY 1),
              tl AS (SELECT g, sum(n) AS t FROM n WHERE c = 'live'
                     GROUP BY 1),
              f AS (SELECT coalesce(r.g, l.g) AS g,
                      coalesce(r.bin, l.bin) AS bin, r.n AS nr, l.n AS nl
                    FROM (SELECT * FROM n WHERE c = 'ref') r
                    FULL JOIN (SELECT * FROM n WHERE c = 'live') l
                      ON r.g = l.g AND r.bin = l.bin),
              p AS (SELECT f.g,
                      ${Portable.r6Sql("sum((coalesce(nl, 0.5) / tl.t - coalesce(nr, 0.5) / tr.t) * ln((coalesce(nl, 0.5) / tl.t) / (coalesce(nr, 0.5) / tr.t)))")} AS psi
                    FROM f JOIN tr ON f.g = tr.g JOIN tl ON f.g = tl.g
                    GROUP BY 1)
              SELECT g AS "group", psi,
                CASE WHEN psi > 0.2 THEN 1 ELSE 0 END AS drifted
              FROM p""")),

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
      Some("""SELECT event_id,
                make_timestamp(o + d - (((d % 90000000) + 90000000)
                  % 90000000)) AS bucket
              FROM (SELECT event_id,
                      epoch_us(TIMESTAMP '2024-01-01') AS o,
                      epoch_us(CAST(ts AS TIMESTAMP))
                        - epoch_us(TIMESTAMP '2024-01-01') AS d
                    FROM events)""")),

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
      Some(s"""WITH b AS (SELECT event_id, user_id,
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
              FROM v""")),

    // pairwise correlation matrix across event types on their aligned
    // per-day means — explicit sums formula, upper triangle
    Q("agg_corr_matrix",
      (s, d) => EventAnalytics.corrMatrix(ev(s, d), col("event_type"),
        to_date(col("ts")), col("value")),
      Some(s"""WITH g AS (SELECT event_type AS s, CAST(ts AS DATE) AS b,
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
              FROM p""")),

    // exact distinct-count mergeability: daily member SETS union into
    // weekly exact uniques; the naive per-day sum overcounts returning
    // users — the proof that distinct counts don't add
    Q("agg_distinct_merge",
      (s, d) => Rollups.exactDistinctMerged(ev(s, d), col("event_type"),
        to_date(col("ts")), to_date(date_trunc("week", col("ts"))),
        col("user_id"), dimName = "event_type")
        .withColumnRenamed("bucket", "week"),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              GROUP BY 1, 2""")),

    // top-10 session navigation paths (30-min sessions, first 5 steps)
    Q("agg_top_paths",
      (s, d) => EventAnalytics.topPaths(ev(s, d), col("user_id"),
        col("ts"), col("event_id"), col("event_type"),
        gapMinutes = 30, maxSteps = 5, k = 10),
      Some("""WITH t AS (SELECT user_id, event_type,
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
              FROM c ORDER BY n_sessions DESC, path LIMIT 10""")),

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
      Some(s"""WITH su AS (SELECT event_id, user_id,
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
              FROM j GROUP BY 1""")),

    // CSV sink roundtrip: header write, schema-pinned read-back,
    // aggregate equality against the source rows
    Q("sink_csv_roundtrip",
      (s, d) => {
        val tmp = Scratch.dir("graft_csv")
        ev(s, d).select(col("event_id"), col("event_type"), col("value"))
          .write.mode("overwrite").option("header", "true").csv(tmp)
        s.read.option("header", "true")
          .schema("event_id BIGINT, event_type STRING, value DOUBLE")
          .csv(tmp)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), (sum(floor(col("value") * lit(1e6) + lit(0.5))).cast("double") / lit(1e6)).as("total"))
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 AS total
              FROM events GROUP BY 1""")),

    // sliding audio windows (256-sample frames, 128 hop) over the PCM
    // stub: the frame/hop dataflow of any audio featurizer, with
    // integer-exact RMS/peak so the plumbing is oracle-checked
    Q("mm_audio_window",
      (s, d) => Multimodal.audioWindows(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        windowBytes = 256, hopBytes = 128),
      Some(s"""WITH w AS (SELECT doc_id AS media_id, text,
                      length(text) AS n,
                      unnest(range(0, greatest(CAST(
                        ceil((length(text) - 256) / 128.0) AS INT), 0) + 1))
                        AS win_idx
                    FROM documents),
              f AS (SELECT media_id, CAST(win_idx AS INTEGER) AS win_idx,
                      CAST(win_idx * 128 AS BIGINT) AS win_start,
                      [ord(substr(text, CAST(win_idx * 128 + j + 1 AS INT),
                        1)) FOR j IN range(0, least(256, n - win_idx * 128))]
                        AS samples
                    FROM w)
              SELECT media_id, win_idx, win_start,
                CAST(len(samples) AS INTEGER) AS n_samples,
                ${Portable.r6Sql("sqrt(list_sum(list_transform(samples, x -> CAST(x * x AS DOUBLE))) / len(samples))")} AS rms,
                CAST(list_max(samples) AS INTEGER) AS peak
              FROM f""")),

    // Kaplan-Meier retention: product-limit survival over user tenure
    // with last-observed-day censoring — exact integer counts, the
    // running product as an order-pinned log-space cumulative sum, and
    // the all-at-risk-churn zero factor handled explicitly on both
    // engines (Spark ln(0) is NULL, DuckDB's is -inf)
    Q("agg_survival_curve",
      (s, d) => EventAnalytics.survivalCurve(ev(s, d), col("user_id"),
        col("ts")),
      Some(s"""WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
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
              FROM sfin""")),

    // streaming interval union: closed islands emitted as the open
    // island advances — three scalars of state per user; equals the
    // batch island list minus each user's final (still-open) island
    Q("stream_interval_union",
      (s, d) => graft.streaming.IntervalUnionStream
        .runToCompletion(s, d, widthSeconds = 900L),
      Some(s"""WITH iv AS (SELECT user_id, event_id,
                      CAST(ts AS TIMESTAMP) AS s,
                      CAST(ts AS TIMESTAMP) + INTERVAL 900 SECOND AS e
                    FROM events),
              $islandCtesSql,
              i AS (SELECT user_id, island, min(s) AS island_start,
                      max(e) AS island_end, count(*) AS n_intervals
                    FROM g GROUP BY 1, 2),
              mx AS (SELECT user_id, max(island) AS mi FROM i GROUP BY 1)
              SELECT i.user_id, i.island_start, i.island_end, i.n_intervals
              FROM i JOIN mx ON i.user_id = mx.user_id
              WHERE i.island < mx.mi""")),
  )

  /** Shared by `win_cusum` and its streaming twin `stream_cusum`: the
    * two MUST verify against the same reference (the whole point of a
    * twin), so the oracle lives once.
    */
  private val cusumOracleSql =
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

  // ------------------------------------------- §2.20 round-9 widening
  // relational completion (anti / full-outer), O(1)-frame monitoring
  // statistics (rolling z-score, CUSUM), the day×hour heatmap, the
  // HdrHistogram-style log2 bucketing, half-life decay scoring, the
  // interval×daily-window overlap join, and session bounce rate. All
  // arithmetic is exact-integer or single-op IEEE on exact-integer
  // inputs — no fp-transcendental hash risk anywhere in the batch.
  private val round9 = Seq(
    // orphan detection: customers that never ordered. The probe side is
    // reduced to DISTINCT keys before the anti join, so the fact table's
    // payload never shuffles and AQE broadcasts the keys-sized relation
    Q("join_anti",
      (s, d) => Relational.antiJoinKeys(Tables.customer(s, d),
        Tables.orders(s, d), "c_custkey", "o_custkey")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey)""")),

    // null-preserving reconciliation of two independently-aggregated
    // daily series — the full-outer join the day-level audit runs when
    // either side may be missing days; integer cents end-to-end
    Q("join_outer_full",
      (s, d) => {
        val e = ev(s, d).filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(round(col("value") * 100, 0).cast("long"))
            .as("ev_cents"))
        val o = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("ord_cents"))
        e.join(o, Seq("day"), "full_outer")
      },
      Some("""WITH e AS (SELECT CAST(ts AS DATE) AS day,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS ev_cents
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
              o AS (SELECT CAST(o_orderdate AS DATE) AS day,
                      sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS ord_cents
                    FROM orders GROUP BY 1)
              SELECT COALESCE(e.day, o.day) AS day, ev_cents, ord_cents
              FROM e FULL JOIN o ON e.day = o.day""")),

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
      Some(s"""WITH src AS (SELECT event_id, event_type,
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
              FROM f""")),

    // one-sided CUSUM drift statistic vs the per-type integer mean:
    // S⁺_t = max(0, S⁺_{t−1} + dev) via its closed form
    // cum − running-min(cum) — two growing frames instead of a
    // sequential recursion, exact integer cents end-to-end
    Q("win_cusum",
      (s, d) => TimeSeries.cusum(
        evCents(s, d),
        col("event_type"), col("ts"), col("event_id"), col("__vc"))
        .select(col("event_id"), col("cusum_pos")),
      Some(cusumOracleSql)),

    // streaming twin of win_cusum: the recursion S⁺ = max(0, S⁺ + dev)
    // carried as ONE long of per-series state, reference levels via a
    // stream-static broadcast join — must equal the batch closed form,
    // so it shares win_cusum's oracle
    Q("stream_cusum",
      (s, d) => graft.streaming.CusumStream.runToCompletion(s, d),
      Some(cusumOracleSql)),

    // day-of-week × hour activity heatmap with per-type cell share —
    // one cells-sized hash aggregate + a cells-sized window
    Q("agg_heatmap_2d",
      (s, d) => EventAnalytics.activityHeatmap(ev(s, d),
        col("event_type"), col("ts"))
        .withColumnRenamed("group", "event_type"),
      Some(s"""WITH c AS (SELECT event_type,
                      CAST(isodow(CAST(ts AS TIMESTAMP)) AS INTEGER)
                        AS isodow,
                      CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
                      count(*) AS n
                    FROM events GROUP BY 1, 2, 3)
              SELECT event_type, isodow, hr, n,
                ${Portable.r6Sql("n / sum(n) OVER (PARTITION BY event_type)")}
                  AS share
              FROM c""")),

    // power-of-two latency/size histogram: bucket = length of the
    // binary representation (⌊log2⌋+1 with zero float risk); counts
    // merge across shards by plain sum, output ≤ 64 rows at any scale
    Q("agg_log2_histogram",
      (s, d) => Aggregates.log2Histogram(ev(s, d),
        round(col("value") * 100, 0)),
      Some("""WITH src AS (SELECT CAST(round(value * 100, 0) AS BIGINT)
                      AS c FROM events)
              SELECT CASE WHEN c <= 0 THEN 0
                  ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
                count(*) AS n, min(c) AS lo, max(c) AS hi
              FROM src GROUP BY 1""")),

    // half-life–decayed engagement score per user: weights are the
    // exact integers 2^(30 − age_days), summed then divided by 2^30 —
    // order-free exact, no rounding step needed (see decayScore doc)
    Q("f_exp_decay_score",
      (s, d) => EventAnalytics.decayScore(ev(s, d), col("user_id"),
        col("ts"), horizonDays = 30),
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS anchor
                    FROM events),
              t AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events)
              SELECT user_id,
                CAST(sum(CASE WHEN anchor - day BETWEEN 0 AND 30
                    THEN (CAST(1 AS BIGINT) << (30 - (anchor - day)))
                    ELSE 0 END) AS DOUBLE) / 1073741824.0 AS decay_score,
                count(*) AS n_events
              FROM t CROSS JOIN mx GROUP BY user_id""")),

    // interval × recurring-daily-window overlap (peak hours 12:00–18:00)
    // over the users' coalesced 15-min activity islands: islands BAND to
    // the days they span (bounded explode) so the day's window becomes a
    // per-row expression — no range join; exact integer microseconds
    Q("join_interval_overlap",
      (s, d) => Intervals.dailyWindowOverlap(
        quarterHourIntervals(s, d)(Intervals.coalesceIntervals),
        col("user_id"), col("island_start"), col("island_end"),
        windowStartSec = 43200, windowEndSec = 64800,
        keyName = "user_id"),
      Some(s"""WITH $quarterHourIvSql,
              $islandCtesSql,
              isl AS (SELECT user_id, min(s) AS s, max(e) AS e
                      FROM g GROUP BY user_id, island),
              b AS (SELECT user_id, s, e,
                      CAST(unnest(generate_series(CAST(s AS DATE),
                        CAST(e AS DATE), INTERVAL 1 DAY)) AS DATE) AS day
                    FROM isl),
              o AS (SELECT user_id, day,
                      least(epoch_us(e),
                          epoch_us(CAST(day AS TIMESTAMP)) + 64800000000)
                        - greatest(epoch_us(s),
                          epoch_us(CAST(day AS TIMESTAMP)) + 43200000000)
                        AS ov
                    FROM b)
              SELECT user_id, day,
                CAST(sum(CASE WHEN ov > 0 THEN ov ELSE 0 END) AS BIGINT)
                  AS overlap_us
              FROM o GROUP BY 1, 2
              HAVING sum(CASE WHEN ov > 0 THEN ov ELSE 0 END) > 0""")),

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
      Some(s"""WITH RECURSIVE daily AS (SELECT event_type,
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
              FROM rec""")),

    // deterministic categorical encoding by frequency rank — the
    // feature-pipeline encoder that is stable across runs/engines;
    // dictionary is category-sized (bounded global sort), rows attach
    // it by broadcast and never shuffle
    Q("f_label_encode",
      (s, d) => Aggregates.labelEncode(ev(s, d)
          .select(col("event_id"), col("event_type")), col("event_type"))
        .select(col("event_id"), col("event_type"), col("code")),
      Some("""WITH d AS (SELECT event_type, count(*) AS n
                    FROM events GROUP BY 1),
              r AS (SELECT event_type,
                      CAST(row_number() OVER (ORDER BY n DESC, event_type)
                        AS BIGINT) AS code
                    FROM d)
              SELECT e.event_id, e.event_type, r.code
              FROM events e JOIN r USING (event_type)""")),

    // robust scaling (x − median)/IQR per type on integer cents:
    // quartile interpolation at quarter fractions over INTEGERS is
    // exact dyadic arithmetic — engine-formula-independent — and the
    // single edge division is deterministic (see robustScale doc)
    Q("f_robust_scale",
      (s, d) => Aggregates.robustScale(
        evCents(s, d),
        col("event_type"), col("__vc"))
        .select(col("event_id"), col("scaled")),
      Some(s"""WITH src AS (SELECT event_id, event_type,
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
              FROM src s JOIN st USING (event_type)""")),

    // the step a curation pipeline runs AFTER clustering: per near-dup
    // cluster, keep the longest member (token count, min-id tiebreak).
    // Composition capstone: MinHash-LSH pairs → connected components →
    // id-keyed token-count join → one component-keyed window; the
    // labels are cluster-membership-sized, so everything after the
    // shared candidate-gen is tiny at any corpus scale
    Q("dedup_cluster_canonical",
      (s, d) => {
        val docs = withPlantedDups(Tables.documents(s, d))
        val labels = minhashComponents(docs)
        val toks = docs.select(col("doc_id").as("id"),
          TextOps.tokenCount(col("text")).cast("long").as("__n_tok"))
        val w = Window.partitionBy(col("component"))
          .orderBy(col("__n_tok").desc, col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        labels.join(toks, Seq("id"))
          .withColumn("rep_id", first(col("id")).over(w))
          .select(col("id"), col("component"), col("rep_id"),
            (col("id") === col("rep_id")).as("is_kept"))
      },
      Some(s"""WITH RECURSIVE $plantedDocsSql,
              $minhashCtesSql,
              $componentsCtesSql,
              comp AS (SELECT src AS id, least(src, min(dst)) AS component
                       FROM reach GROUP BY src),
              tok AS (SELECT id,
                        CAST(len(string_split_regex(trim(text), '\\s+'))
                          AS BIGINT) AS n_tok
                      FROM docs)
              SELECT c.id, c.component,
                first_value(c.id) OVER (PARTITION BY c.component
                  ORDER BY t.n_tok DESC, c.id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS rep_id,
                c.id = first_value(c.id) OVER (PARTITION BY c.component
                  ORDER BY t.n_tok DESC, c.id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS is_kept
              FROM comp c JOIN tok t ON c.id = t.id""")),

    // per-day session bounce rate (1-event sessions / sessions, 30-min
    // gap sessionization) — the same single user-keyed window as
    // agg_session_stats, then a days-sized aggregate
    Q("agg_bounce_rate",
      (s, d) => EventAnalytics.bounceRate(ev(s, d), col("user_id"),
        col("ts"), col("event_id")),
      Some(s"""WITH $sessionIdsSql,
              s AS (SELECT user_id, sid, count(*) AS n_ev,
                      min(ts2) AS start_ts
                    FROM s0 GROUP BY 1, 2)
              SELECT CAST(start_ts AS DATE) AS day, count(*) AS n_sessions,
                CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounce,
                ${Portable.r6Sql("CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) / count(*)")} AS bounce_rate
              FROM s GROUP BY 1""")),
  )

  // ------------------------------------------------------------ §2.21
  // Round-10 widening: trend estimation (Holt linear smoothing,
  // Theil–Sen robust slope, rolling OLS beta), sketch-side percentile
  // reads, multi-criteria skyline, cohort LTV, hashing-trick feature
  // crosses, asymmetric containment dedup, and the streaming twins of
  // top-k and OHLC. Determinism: exact-integer sums feed every
  // statistic; the one recursion (Holt) runs as the literal iteration
  // on both engines with dyadic α = β = ½ (same IEEE op sequence,
  // bit-identical intermediates); Theil–Sen's median selects middle
  // RANKS of the slope multiset, so tie order between engines cannot
  // change the selected values.
  private val round10 = Seq(
    // Holt linear (level + trend) smoothing over per-type daily cents
    // sums — the trend-aware member of the smoothing family (EWMA and
    // MACD lack an explicit trend state). Literal recursion ↔ recursive
    // CTE, dyadic coefficients: zero fp-transcendental hash risk.
    Q("win_holt_linear",
      (s, d) => TimeSeries.holtLinear(
        evCents(s, d),
        col("event_type"), col("ts"), col("__vc"),
        keyName = "event_type"),
      Some(s"""WITH RECURSIVE $holtDailySql,
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
              FROM rec""")),

    // percentile read over the MERGEABLE log2 histogram sketch: at
    // 100 TB the per-shard ≤64-row histograms merge by count addition
    // and this query runs on the merged sketch — no raw re-scan, no
    // global sort. Integer/string arithmetic only.
    Q("agg_hdr_percentile",
      (s, d) => Aggregates.hdrPercentiles(ev(s, d), col("event_type"),
        round(col("value") * 100, 0), groupName = "event_type"),
      Some("""WITH src AS (SELECT event_type,
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
              FROM cum GROUP BY 1""")),

    // Theil–Sen robust slope per type: median pairwise slope of the
    // daily cents series — the O(d²) blowup confined to each group's
    // DAILY aggregate (d days, not events). Median by exact middle-rank
    // selection; each slope one IEEE division of exact integers.
    Q("agg_theil_sen",
      (s, d) => Aggregates.theilSen(ev(s, d), col("event_type"),
        col("ts"), round(col("value") * 100, 0), epoch = "2024-01-01",
        groupName = "event_type"),
      Some(s"""WITH daily AS (SELECT event_type,
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
              GROUP BY 1""")),

    // cohort LTV curve off orders: first-purchase-month cohorts,
    // integer-cents revenue per months-since-cohort with the running
    // cumulative an LTV chart plots — cells-sized windows only.
    Q("agg_cohort_ltv",
      (s, d) => EventAnalytics.cohortLtv(Tables.orders(s, d),
        col("o_custkey"), to_date(col("o_orderdate")),
        round(col("o_totalprice") * 100, 0)),
      Some("""WITH fo AS (SELECT o_custkey,
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
              FROM g""")),

    // trailing-24 OLS slope vs the per-type row index: five exact
    // integer frame sums via growing-frame differences (O(1)/row),
    // exact long numerator/denominator, one division at the edge.
    Q("win_rolling_beta",
      (s, d) => TimeSeries.rollingBeta(
        evCents(s, d),
        col("event_type"), col("ts"), col("event_id"), col("__vc"),
        frameRows = 24)
        .select(col("event_id"), col("beta")),
      Some(s"""WITH src AS (SELECT event_id, event_type,
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
              FROM f""")),

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
      Some("""WITH u AS (SELECT user_id,
                      CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents,
                      count(*) AS n
                    FROM events GROUP BY 1)
              SELECT u.user_id, u.cents, u.n FROM u
              WHERE NOT EXISTS (SELECT 1 FROM u v
                WHERE v.cents >= u.cents AND v.n >= u.n
                  AND (v.cents > u.cents OR v.n > u.n))""")),

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
      Some("""WITH c AS (SELECT
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
              FROM c GROUP BY 1""")),

    // asymmetric containment dedup: same LSH candidates as
    // dedup_minhash_lsh, exact score |A∩B|/min(|A|,|B|) — catches a
    // document embedded in a longer one where Jaccard dilutes. The
    // planted near-dups (first token dropped) score containment 1.0.
    Q("dedup_containment",
      (s, d) => Dedup.containmentPairs(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.8),
      Some(s"""WITH $plantedDocsSql,
              $minhashCtesSql,
              cont AS (SELECT p.id_a, p.id_b,
                         CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                           / least(len(x.sh), len(y.sh)) AS c
                       FROM pairs p
                       JOIN base x ON p.id_a = x.id
                       JOIN base y ON p.id_b = y.id
                       WHERE least(len(x.sh), len(y.sh)) > 0)
              SELECT id_a, id_b, ${Portable.r6Sql("c")} AS containment
              FROM cont WHERE c >= 0.8""")),

    // streaming top-3 event types per hour: counts maintained by the
    // streaming aggregate (state = one row per window×dim), ranking
    // applied on the rollup-sized output outside the stream.
    Q("stream_topk_types",
      (s, d) => graft.streaming.TopKStream.runToCompletion(s, d, k = 3),
      Some("""WITH c AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                        AS bucket,
                      event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
              r AS (SELECT bucket, event_type, n,
                      row_number() OVER (PARTITION BY bucket
                        ORDER BY n DESC, event_type) AS rk
                    FROM c)
              SELECT bucket, event_type, n, CAST(rk AS INTEGER) AS rk
              FROM r WHERE rk <= 3""")),

    // additive Holt–Winters (level + trend + weekly seasonality), the
    // seasonal completion of the smoothing family: one uniform dyadic
    // update rule on both engines, state = period+2 doubles per key.
    Q("win_holt_winters",
      (s, d) => TimeSeries.holtWinters(
        evCents(s, d),
        col("event_type"), col("ts"), col("__vc"),
        period = 7, keyName = "event_type"),
      Some(s"""WITH RECURSIVE $holtDailySql,
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
              FROM rec""")),

    // exact audience-overlap matrix between event types (audience =
    // users with ≥15 events of the type): the self-join runs on the
    // thresholded audience relation, not the fact table.
    Q("agg_audience_overlap",
      (s, d) => EventAnalytics.audienceOverlap(ev(s, d),
        col("event_type"), col("user_id"), minEvents = 15),
      Some(s"""WITH tu AS (SELECT event_type, user_id FROM events
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
              GROUP BY 1, 2""")),

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
      Some("""WITH tu AS (SELECT event_type, user_id FROM events
                    GROUP BY 1, 2 HAVING count(*) >= 15),
              n AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1)
              SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_both, CAST(1 AS INTEGER) AS ok
              FROM tu a JOIN tu b ON a.user_id = b.user_id
                AND a.event_type < b.event_type
              GROUP BY 1, 2""")),

    // out-of-order arrival accounting under a deterministic jittered
    // replay (arrival = event time + portable-hash jitter ≤ 2 h — the
    // ingestion-log order a deployment would use): per-type late-row
    // share and max lateness vs the running high-water mark, the
    // statistics that size a streaming watermark.
    Q("dq_out_of_order",
      (s, d) => {
        val arrival = unix_micros(col("ts").cast("timestamp")) +
          graft.functions.PortableHash.md5Long(
            col("event_id").cast("string"), 15) % 7200000000L
        val w = Window.partitionBy(col("event_type"))
          .orderBy(arrival, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val late = col("ts") < col("__hwm")
        ev(s, d)
          .withColumn("__hwm", max(col("ts")).over(w))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(late.cast("long")).as("n_late"),
            r6(sum(late.cast("long")) / count(lit(1)))
              .as("late_frac"),
            max(when(late,
              unix_micros(col("__hwm").cast("timestamp")) -
                unix_micros(col("ts").cast("timestamp")))).as("max_late_us"))
      },
      Some(s"""WITH a AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
                      max(CAST(ts AS TIMESTAMP)) OVER (
                        PARTITION BY event_type
                        ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                          + CAST(concat('0x', substr(md5(CAST(event_id
                            AS VARCHAR)), 1, 15)) AS BIGINT) % 7200000000,
                          event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS hwm
                    FROM events)
              SELECT event_type, count(*) AS n,
                CAST(sum(CASE WHEN ts2 < hwm THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_late,
                ${Portable.r6Sql("CAST(sum(CASE WHEN ts2 < hwm THEN 1 ELSE 0 END) AS BIGINT) / count(*)")} AS late_frac,
                CAST(max(CASE WHEN ts2 < hwm
                  THEN epoch_us(hwm) - epoch_us(ts2) END) AS BIGINT)
                  AS max_late_us
              FROM a GROUP BY 1""")),

    // small-files compaction — the table-maintenance op a chunked
    // layout needs at scale: scatter the table into 200 small files per
    // the worst case, then compact to row-bounded ts-sorted files that
    // respect the chunk directories; result proves the roundtrip is
    // lossless. The compaction plan (file count from the row count) is
    // metadata-sized driver work, exactly like a real compactor.
    Q("sink_compact",
      (s, d) => {
        val small = Scratch.dir("graft_compact_small")
        val out = Scratch.dir("graft_compact_out")
        val ev0 = Tables.events(s, d)
          .withColumn("chunk", to_date(date_trunc("week", col("ts"))))
        // scatter into ~200 small files total (r18): range-slicing on
        // (chunk, ts) keeps each write task inside 1-2 chunk dirs, so
        // the worst case stays 200 small files as documented — the old
        // keyless repartition(200) crossed every task with every chunk
        // dir and wrote ~200×chunks files, paying 6× the writer opens
        // the demo calls for (plus the sort-before-repartition every
        // keyless repartition runs). The scatter pass also carries the
        // row count via observe — the compaction plan needs it, and a
        // real compactor takes it from write metrics, not a re-read of
        // the small files it is about to replace (guide §1.4/§6).
        // The observe sits ABOVE the range exchange (ADVICE r18):
        // repartitionByRange's range-sampling pass re-executes the
        // subtree BELOW the exchange, so an observe placed there counts
        // every row twice (~2× n → compacted files at ~125k rows
        // instead of the documented ~250k target); only the final job
        // flows through a metrics node above the exchange.
        val obs = new org.apache.spark.sql.Observation()
        ev0.repartitionByRange(200, col("chunk"), col("ts"))
          .observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").partitionBy("chunk").parquet(small)
        val src = s.read.parquet(small)
        val target = 250000L
        val parts = math.max(1, math.ceil(
          obs.get("n").asInstanceOf[Long].toDouble / target).toInt)
        src.repartitionByRange(parts, col("chunk"), col("ts"))
          .sortWithinPartitions(col("chunk"), col("ts"))
          .write.mode("overwrite")
          .option("maxRecordsPerFile", target)
          .partitionBy("chunk").parquet(out)
        s.read.parquet(out)
          .groupBy(col("chunk"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      },
      Some("""SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP))
                  AS DATE) AS chunk,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS cents
              FROM events GROUP BY 1""")),

    // Z-order-clustered write + 2-D pruned read-back: interleave
    // (user bucket, absolute-hour bucket) into one sort key, range-
    // partition + sort the write on it, so BOTH dimensions' file/row-
    // group min-max stats narrow a 2-D predicate — the data-skipping
    // layout for multi-dimension dashboards (ZOrderSpec pins the
    // per-file span narrowing vs a time-sorted layout).
    Q("sink_zorder_cluster",
      (s, d) => {
        val dir = Scratch.dir("graft_zorder")
        // min-max normalize BOTH dims to the key's full 10-bit width
        // before interleaving (the textbook z-order prep): with raw
        // values, a dim whose domain underfills its bits has constant
        // high bits, the curve degenerates to a sort on the other dim,
        // and that dim's spans never narrow. Domain bounds are one
        // tiny agg (a real cluster keeps them as table stats).
        val ev0 = Tables.events(s, d)
          .withColumn("__h",
            expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"))
        val b = ev0.agg(min(col("user_id")), max(col("user_id")),
          min(col("__h")), max(col("__h"))).head()
        val uLo = b.getLong(0); val uSpan = math.max(1L, b.getLong(1) - uLo)
        val hLo = b.getLong(2); val hSpan = math.max(1L, b.getLong(3) - hLo)
        // integer scaling (Spark's `/` is double division — `div` keeps
        // the bucket arithmetic integral)
        val uN = expr(s"((user_id - $uLo) * 1023) div $uSpan")
        val hN = expr(s"((__h - $hLo) * 1023) div $hSpan")
        val zkey = ScalarFns.zorderKey(Seq(uN, hN), bitsPer = 10)
        ev0.withColumn("__zkey", zkey)
          .repartitionByRange(32, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey", "__h")
          .write.mode("overwrite").parquet(dir)
        s.read.parquet(dir)
          .filter(col("user_id").between(10, 50) &&
            to_date(col("ts")).between("2024-01-10", "2024-01-20"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      },
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS cents
              FROM events
              WHERE user_id BETWEEN 10 AND 50
                AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
                  AND DATE '2024-01-20'
              GROUP BY 1""")),

    // streaming OHLC candles — the live twin of agg_ohlc: open/close as
    // struct min/max over the zero-padded order key (declarative
    // aggregates the stream maintains incrementally), integer cents.
    Q("stream_ohlc",
      (s, d) => graft.streaming.OhlcStream.runToCompletion(s, d,
        measure = floor(col("value") * 100 + lit(0.5))),
      Some("""WITH src AS (SELECT event_type,
                      date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                      CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
                      concat(lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                          AS VARCHAR), 20, '0'),
                        lpad(CAST(event_id AS VARCHAR), 20, '0')) AS k
                    FROM events)
              SELECT event_type, bucket,
                arg_min(vc, k) AS open_c, max(vc) AS high_c,
                min(vc) AS low_c, arg_max(vc, k) AS close_c,
                count(*) AS n
              FROM src GROUP BY 1, 2""")),
  )

  // -------------------------------------------- §2.22 round-10 batch 2:
  // graph centrality, concurrency profiling, and three exact-arithmetic
  // feature/eval transforms. Everything follows the integer-scaling
  // determinism convention (exact sums under any aggregation order).
  private val round10b = Seq(
    // Link-graph centrality as a corpus-quality prior: integer-scaled
    // damped PageRank (ops/Graph.scala) over the bipartite user→item
    // interaction graph derived from events (item space = event_id mod
    // 997). Three fixed iterations, top-100 by (rank, node) — a
    // deterministic SET, so the driver's sorted-hash compare holds.
    Q("graph_pagerank",
      (s, d) => {
        val edges = ev(s, d)
          .select(col("user_id").as("src"),
            (lit(1000000L) + col("event_id") % 997).as("dst"))
          // ONE exchange feeds dedup and pageRank's src-keyed degree
          // join (r19, the graph_triangles convention): src-hash
          // partitioning co-locates equal (src, dst) rows for the
          // distinct and already satisfies the degree groupBy and the
          // out-degree join inside pageRank
          .repartition(col("src"))
          .distinct()
        Graph.pageRank(edges, iters = 3)
          .orderBy(desc("rank"), asc("node")).limit(100)
      },
      Some("""WITH edges AS (SELECT DISTINCT user_id AS src,
                  1000000 + event_id % 997 AS dst FROM events),
              nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst AS node FROM edges),
              deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
              r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
              s1 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r1 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s1 ON n.node = s1.node),
              s2 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r2 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s2 ON n.node = s2.node),
              s3 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r2 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r3 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s3 ON n.node = s3.node)
              SELECT node, r AS rank FROM r3
              ORDER BY r DESC, node LIMIT 100""")),

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
      Some("""WITH t AS (SELECT user_id, event_id,
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
              FROM run GROUP BY 1""")),

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
      Some(s"""WITH g AS (SELECT
                  CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS gs,
                  count(*) AS gn FROM events),
              k AS (SELECT event_type,
                  CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ks,
                  count(*) AS kn FROM events GROUP BY 1)
              SELECT event_type, kn AS n,
                ${Portable.r6Sql("(ks + 10.0 * gs / gn) / (kn + 10)")} AS enc
              FROM k, g""")),

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
      Some(s"""WITH $hashedLabelsSql
              SELECT CAST((h * 10) // 16777216 AS BIGINT) AS bin,
                count(*) AS n,
                ${Portable.r6Sql("CAST(sum(lab) AS BIGINT) * 1.0 / count(*)")}
                  AS mean_label,
                ${Portable.r6Sql("CAST(sum(h) AS BIGINT) / 16777216.0 / count(*)")}
                  AS mean_score
              FROM t GROUP BY 1""")),

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
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice,
                CAST(((row_number() OVER (ORDER BY l_extendedprice,
                    l_orderkey, l_linenumber) - 1) * 10)
                  // (count(*) OVER ()) AS BIGINT) AS bin
              FROM lineitem""")),

    // Embedding-population drift (the ML-ops check that catches a
    // retrained or corrupted embedding model): per-dimension mean of the
    // int8-quantized vectors, compared across two cohorts. Quantization
    // is a per-element IEEE op, means come from exact integer sums —
    // hash-exact at any scale; the expensive part is one map-side-
    // combinable (cohort, dim) aggregation, never a shuffle of vectors.
    Q("dq_embedding_drift",
      (s, d) => {
        val q = Tables.embeddings(s, d)
          .select((col("label") % 2).as("cohort"),
            posexplode(col("embedding")).as(Seq("p", "e")))
          .select(col("cohort"), (col("p") + 1).cast("long").as("j"),
            // widen float→double BEFORE the multiply on BOTH engines:
            // float arithmetic would round differently at .5 boundaries
            floor(col("e").cast("double") * 127 + lit(0.5))
              .cast("long").as("v"))
        val m = q.groupBy(col("cohort"), col("j"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        val a = m.filter(col("cohort") === 0)
          .select(col("j"), col("s").as("sa"), col("n").as("na"))
        val b = m.filter(col("cohort") === 1)
          .select(col("j"), col("s").as("sb"), col("n").as("nb"))
        a.join(b, Seq("j"))
          .select(col("j"),
            r6(col("sa") * lit(1.0) / col("na")).as("mean_even"),
            r6(col("sb") * lit(1.0) / col("nb")).as("mean_odd"),
            r6(abs(col("sa") * lit(1.0) / col("na") -
              col("sb") * lit(1.0) / col("nb"))).as("drift"))
      },
      Some(s"""WITH pos AS (SELECT unnest(generate_series(1, 64)) AS j),
              q AS (SELECT e.label % 2 AS cohort, p.j,
                  CAST(floor(CAST(e.embedding[p.j] AS DOUBLE) * 127 + 0.5)
                    AS BIGINT) AS v
                FROM embeddings e CROSS JOIN pos p),
              m AS (SELECT cohort, j, CAST(sum(v) AS BIGINT) AS s,
                  count(*) AS n
                FROM q GROUP BY 1, 2)
              SELECT a.j, ${Portable.r6Sql("a.s * 1.0 / a.n")} AS mean_even,
                ${Portable.r6Sql("b.s * 1.0 / b.n")} AS mean_odd,
                ${Portable.r6Sql("abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n)")} AS drift
              FROM m a JOIN m b ON a.j = b.j
                AND a.cohort = 0 AND b.cohort = 1""")),

    // Shot-boundary detection on the multimodal frame stream
    // (ops/Multimodal.sceneCuts): mean-sample jump > 1.5 byte-units vs
    // the previous frame, decided by integer cross-multiplication (no
    // division → bit-identical cut set on both engines).
    Q("mm_scene_cut",
      (s, d) => Multimodal.sceneCuts(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        frameBytes = 128, thrCenti = 150),
      Some(s"""WITH $mediaFramesSql,
              g AS (SELECT media_id, frame_idx,
                  CAST(list_sum(samples) AS BIGINT) AS e,
                  CAST(len(samples) AS BIGINT) AS l
                FROM f WHERE len(samples) > 0),
              d AS (SELECT media_id, frame_idx, e, l,
                  lag(e) OVER (PARTITION BY media_id ORDER BY frame_idx)
                    AS pe,
                  lag(l) OVER (PARTITION BY media_id ORDER BY frame_idx)
                    AS pl
                FROM g)
              SELECT media_id, frame_idx FROM d
              WHERE pl IS NOT NULL
                AND abs(e * pl - pe * l) * 100 > 150 * l * pl""")),
  )

  // -------------------------------------------- §2.23 round-10 batch 3:
  // graph cohesion, skew-hybrid join routing, perceptual-hash media
  // dedup, BPE pair statistics, privacy QI profiling, deterministic
  // corpus shuffling, and the streaming histogram-sketch twin.
  private val round10c = Seq(
    // Exact triangle counting (ops/Graph.triangleCount) over the part
    // co-order graph at support ≥ 2 (pairs co-ordered at least twice —
    // the association-rule convention, and the scale guard: the
    // unthresholded graph is near-uniform dense at ~2× the order count
    // in edges, and triangle counting is Θ(Σ C(d⁺,2)) wedges on ANY
    // engine — measured 31 s at sf0.1 vs ~1 s thresholded, with the
    // expensive half, the 1.2M-row co-order pair aggregation, still
    // fully exercised). Edge canonicalization a<b; wedges pivot at the
    // (degree, id)-smallest endpoint and close with one equi-join.
    Q("graph_triangles",
      (s, d) => {
        val edges = Graph.coOrderEdges(Tables.lineitem(s, d))
        // lazy localCheckpoint (r19, VERDICT r18 item 4): triangleCount
        // references the edge relation ~9x (orientation, both wedge
        // sides, the closing probe), so the planner replicated this
        // whole co-order self-join subtree per reference — runtime
        // exchange reuse deduped the EXECUTION but the planner/AQE cost
        // was real. The checkpoint truncates every consumer's plan to
        // an aggregate-sized RDD leaf computed once. persist() was the
        // wrong tool here twice (r14, r18: InMemoryRelation blocks
        // runtime exchange reuse and re-materializes); the RDD-level
        // checkpoint leaves no InMemoryRelation in the plan.
        Graph.triangleCount(edges.localCheckpoint(false))
      },
      Some(s"""WITH $coOrderEdgesSql,
              w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b)
              SELECT least(w.x, w.y, w.z) AS x, count(*) AS n_triangles
              FROM w JOIN e ON e.a = w.y AND e.b = w.z
              GROUP BY 1""")),

    // Hot/cold hybrid skew join (ops/Skew.hotColdJoin): top-64 hot fact
    // keys routed through a broadcast join (zero shuffle for the heavy
    // keys), long tail through the ordinary shuffled join, union. The
    // oracle is the PLAIN left join — the routing must be invisible in
    // the result.
    Q("join_skew_hotcold",
      (s, d) => Skew.hotColdJoin(
          Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_quantity")),
          Tables.part(s, d).select(col("p_partkey").as("l_partkey"),
            col("p_retailprice")),
          "l_partkey", hotKeys = 64)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          r6(col("l_quantity") * col("p_retailprice"))
            .as("ext_retail")),
      Some(s"""SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
                ${Portable.r6Sql("l.l_quantity * p.p_retailprice")} AS ext_retail
              FROM lineitem l
              LEFT JOIN part p ON l.l_partkey = p.p_partkey""")),

    // Perceptual-hash media dedup (ops/Multimodal.dHash64 +
    // phashNearDupPairs): 64-bit difference hash from 65 evenly-spaced
    // payload probes, 4×16-bit chunk pigeonhole banding, exact popcount
    // verify at Hamming ≤ 3 — image near-dup dedup on the stub-decode
    // contract, banded like every other dedup family. Runs the guarded
    // cap form (r17; in-pass raise_error since r19 — no separate audit
    // job): a completed run proves the bucket cap did not bind at this
    // corpus, so the green row is proven complete — the
    // containment_prefix precedent (the oracle bands WITHOUT a cap).
    // Cap 4096 is the call site's documented df statement: the driver
    // corpus's max (band, chunk) occupancy is 2,363 at sf10, so the
    // guard holds exact through every anchor scale; a corpus that
    // trips it (template/boilerplate media at 100×) must choose
    // between a binding cap (bounded work, reduced recall — the
    // adversarial lane's configuration) and a higher exact cap.
    Q("mm_phash_dedup",
      (s, d) => Multimodal.phashNearDupPairs(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        maxHamming = 3, maxBucketSize = 4096, failOnCappedBuckets = true),
      Some("""WITH d AS (SELECT doc_id AS media_id, text,
                    length(text) AS n
                  FROM documents WHERE length(text) >= 2),
              p AS (SELECT media_id,
                  [ord(substr(text,
                      CAST((i * (n - 1)) // 64 AS INT) + 1, 1))
                    FOR i IN range(0, 65)] AS pr
                FROM d),
              c AS (SELECT media_id,
                  [CAST(list_sum([CASE WHEN pr[j * 16 + k + 1] >
                          pr[j * 16 + k + 2] THEN (1 << (15 - k))
                        ELSE 0 END FOR k IN range(0, 16)]) AS BIGINT)
                    FOR j IN range(0, 4)] AS ch
                FROM p),
              bd AS (SELECT media_id, CAST(j AS INT) AS band,
                  ch[CAST(j AS INT) + 1] AS v
                FROM (SELECT media_id, ch,
                    unnest(range(0, 4)) AS j FROM c)),
              cand AS (SELECT DISTINCT l.media_id AS a, r.media_id AS b
                FROM bd l JOIN bd r ON l.band = r.band AND l.v = r.v
                  AND l.media_id < r.media_id),
              h AS (SELECT cand.a, cand.b,
                  CAST(list_sum([bit_count(xor(ca.ch[CAST(j AS INT) + 1],
                      cb.ch[CAST(j AS INT) + 1]))
                    FOR j IN range(0, 4)]) AS BIGINT) AS hamming
                FROM cand
                JOIN c ca ON ca.media_id = cand.a
                JOIN c cb ON cb.media_id = cand.b)
              SELECT a, b, hamming FROM h WHERE hamming <= 3""")),

    // BPE merge-candidate statistics (ops/TextOps.adjacentPairStats):
    // top-20 adjacent token-pair frequencies — the per-round statistic
    // of a BPE/WordPiece trainer, as one pair fanout + one combinable
    // count + a bounded sort-limit.
    Q("text_bpe_pair_stats",
      (s, d) => TextOps.adjacentPairStats(
        Tables.documents(s, d), col("text"), k = 20),
      Some("""WITH tok AS (SELECT
                    string_split_regex(lower(trim(text)), '\s+') AS t
                  FROM documents),
              x AS (SELECT t, unnest(range(1, len(t))) AS i
                FROM tok WHERE len(t) >= 2),
              p AS (SELECT t[CAST(i AS INT)] AS a,
                  t[CAST(i AS INT) + 1] AS b FROM x),
              cnt AS (SELECT a, b, count(*) AS n FROM p GROUP BY 1, 2),
              r AS (SELECT a, b, n,
                  CAST(row_number() OVER (ORDER BY n DESC, a, b)
                    AS INTEGER) AS rk
                FROM cnt)
              SELECT rk, a, b, n FROM r WHERE rk <= 20""")),

    // k-anonymity QI profiling — the privacy-hygiene check before a
    // training-data release: cells of the quasi-identifier (event_type,
    // hour-of-day, value band) backed by fewer than 5 distinct users
    // are re-identification risks. One exact distinct aggregation.
    Q("dq_k_anonymity",
      (s, d) => ev(s, d)
        .groupBy(col("event_type"),
          hour(col("ts")).cast("int").as("hod"),
          floor(col("value") / 100).cast("long").as("band"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .filter(col("n_users") < 5),
      Some("""SELECT event_type,
                CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                  AS hod,
                CAST(floor(value / 100) AS BIGINT) AS band,
                count(*) AS n_rows,
                count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2, 3
              HAVING count(DISTINCT user_id) < 5""")),

    // Deterministic global training-order shuffle
    // (ops/Sampling.deterministicShuffle): rerun-stable md5 permutation
    // with positions from the bucketed global row number — no RNG state,
    // no single-partition sort.
    Q("sample_shuffle_deterministic",
      (s, d) => Sampling.deterministicShuffle(
        Tables.documents(s, d).select(col("doc_id")), col("doc_id"),
        "pos"),
      Some("""SELECT doc_id,
                row_number() OVER (ORDER BY
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT), doc_id) AS pos
              FROM documents""")),

    // Streaming log2-histogram (streaming/HistogramStream) — the
    // mergeable sketch as streaming state: one (hour, bucket) row per
    // hour and power-of-two band, maintained by plain incremental
    // count/min/max. Oracle is the batch histogram per hour.
    Q("stream_histogram",
      (s, d) => graft.streaming.HistogramStream.runToCompletion(s, d),
      Some("""WITH src AS (SELECT
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                    CAST(round(value * 100, 0) AS BIGINT) AS c
                  FROM events)
              SELECT hour,
                CASE WHEN c <= 0 THEN 0
                  ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
                count(*) AS n, min(c) AS lo, max(c) AS hi
              FROM src GROUP BY 1, 2""")),
  )

  // -------------------------------------------- §2.24 round-10 batch 4:
  // CDC apply (snapshot + compacted delta merge), its streaming state
  // twin, marketing attribution, l-diversity, and top-k one-hot
  // encoding. Shared conventions: latest-change-wins rides the
  // zero-padded TimeSeries.orderKey so ties are total; balances are
  // integer cents.
  private val round10d = Seq(
    // CDC MERGE: snapshot = latest state per user as of (max day − 1),
    // delta = the last day's changelog compacted latest-change-wins
    // (Rollups.cdcCompact — one combinable struct-max), applied by a
    // full-outer join; a delta whose final change is an 'error' acts as
    // a DELETE. The Delta/Hudi copy-on-write apply shape: at 100 TB the
    // delta is day-sized, the join shuffles on the entity key, and the
    // snapshot side would be the bucketed standing table.
    Q("merge_cdc_apply",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("__bal"))
        val cut = e.agg(date_sub(max(to_date(col("ts"))), 1).as("__c"))
        val ec = e.crossJoin(broadcast(cut))
        val k = TimeSeries.orderKey(col("ts"), col("event_id"))
        val snap = Rollups.cdcCompact(
            ec.filter(to_date(col("ts")) <= col("__c")),
            col("user_id"), k, "sbal" -> col("__bal"))
          .select(col("user_id"), col("sbal"))
        val delta = Rollups.cdcCompact(
            ec.filter(to_date(col("ts")) > col("__c")),
            col("user_id"), k, "dbal" -> col("__bal"),
            "dtype" -> col("event_type"))
          .select(col("user_id"), col("dbal"), col("dtype"))
        snap.join(delta, Seq("user_id"), "full_outer")
          .filter(col("dtype").isNull || col("dtype") =!= "error")
          .select(col("user_id"),
            when(col("dtype").isNotNull, col("dbal"))
              .otherwise(col("sbal")).as("bal_c"),
            when(col("dtype").isNull, lit("snap")).otherwise(lit("delta"))
              .as("src"))
      },
      Some("""WITH cut AS (SELECT max(CAST(ts AS DATE)) - 1 AS c
                  FROM events),
              src AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS bal,
                  concat(lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      AS VARCHAR), 20, '0'),
                    lpad(CAST(event_id AS VARCHAR), 20, '0')) AS k
                FROM events),
              snap AS (SELECT user_id, arg_max(bal, k) AS sbal
                FROM src, cut WHERE day <= c GROUP BY user_id),
              delta AS (SELECT user_id, arg_max(bal, k) AS dbal,
                  arg_max(event_type, k) AS dtype
                FROM src, cut WHERE day > c GROUP BY user_id)
              SELECT coalesce(s.user_id, d.user_id) AS user_id,
                CASE WHEN d.user_id IS NOT NULL THEN d.dbal
                  ELSE s.sbal END AS bal_c,
                CASE WHEN d.user_id IS NULL THEN 'snap'
                  ELSE 'delta' END AS src
              FROM snap s FULL JOIN delta d USING (user_id)
              WHERE d.user_id IS NULL OR d.dtype <> 'error'""")),

    // Streaming changelog compaction (streaming/CdcStateStream): the
    // current-snapshot-per-key state a CDC consumer serves lookups
    // from, as one incremental struct-max. Oracle = the batch
    // compaction over the full log.
    Q("stream_cdc_state",
      (s, d) => graft.streaming.CdcStateStream.runToCompletion(s, d),
      Some("""WITH src AS (SELECT user_id, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS bal,
                  concat(lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      AS VARCHAR), 20, '0'),
                    lpad(CAST(event_id AS VARCHAR), 20, '0')) AS k
                FROM events)
              SELECT user_id, arg_max(event_type, k) AS last_type,
                arg_max(bal, k) AS bal_c, count(*) AS n_changes
              FROM src GROUP BY user_id""")),

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
      Some("""WITH o AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
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
              FROM o WHERE event_type = 'purchase' GROUP BY 1""")),

    // l-diversity — k-anonymity's sibling: a QI cell is risky even at
    // k ≥ threshold if the SENSITIVE attribute is near-constant inside
    // it. Cells of (hour-of-day, value band) with < 3 distinct
    // event_types.
    Q("dq_l_diversity",
      (s, d) => ev(s, d)
        .groupBy(hour(col("ts")).cast("int").as("hod"),
          floor(col("value") / 100).cast("long").as("band"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_type")).as("l"))
        .filter(col("l") < 3),
      Some("""SELECT
                CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                  AS hod,
                CAST(floor(value / 100) AS BIGINT) AS band,
                count(*) AS n_rows,
                count(DISTINCT event_type) AS l
              FROM events GROUP BY 1, 2
              HAVING count(DISTINCT event_type) < 3""")),

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
      Some("""WITH rk AS (SELECT event_type,
                  CAST(row_number() OVER (ORDER BY count(*) DESC,
                    event_type) AS INTEGER) AS r
                FROM events GROUP BY 1)
              SELECT e.event_id,
                CASE WHEN r = 1 THEN 1 ELSE 0 END AS oh_1,
                CASE WHEN r = 2 THEN 1 ELSE 0 END AS oh_2,
                CASE WHEN r = 3 THEN 1 ELSE 0 END AS oh_3,
                CASE WHEN r IS NULL OR r > 3 THEN 1 ELSE 0 END AS oh_other
              FROM events e
              LEFT JOIN rk ON e.event_type = rk.event_type""")),
  )

  // -------------------------------------------- §2.25 round-10 batch 5:
  // quality-classifier scoring, DP-noise plumbing, keyframe selection.
  private val round10e = Seq(
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
      Some(raw"""WITH f AS (SELECT doc_id,
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
              FROM z""")),

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
      Some(s"""WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              u AS (SELECT event_type, day, n,
                  CAST(concat('0x', substr(md5(concat(event_type, '|',
                      CAST(day AS VARCHAR))), 1, 13)) AS BIGINT)
                    / 4503599627370496.0 AS u01
                FROM c)
              SELECT event_type, day, n,
                ${Portable.r6Sql("n + CASE WHEN u01 >= 0.5 THEN -2.0 * ln(2.0 * (1.0 - u01)) ELSE 2.0 * ln(2.0 * u01) END")} AS noised
              FROM u""")),

    // Keyframe selection (ops/Multimodal.keyframesTopK): the 3 most
    // energetic frames per asset — what gets captioned/embedded when
    // processing every frame is unaffordable.
    Q("mm_keyframe_topk",
      (s, d) => Multimodal.keyframesTopK(
        Multimodal.asPayload(Tables.documents(s, d), col("doc_id"),
          col("text")),
        frameBytes = 128, k = 3),
      Some(s"""WITH $mediaFramesSql,
              g AS (SELECT media_id, frame_idx,
                  CAST(list_sum(samples) AS BIGINT) AS e
                FROM f WHERE len(samples) > 0),
              r AS (SELECT media_id, frame_idx, e,
                  CAST(row_number() OVER (PARTITION BY media_id
                    ORDER BY e DESC, frame_idx) AS INTEGER) AS rk
                FROM g)
              SELECT media_id, rk, frame_idx, e FROM r
              WHERE rk <= 3""")),

    // Streaming with a REAL sink (streaming/FileSinkStream): first-
    // sight dedup written to a parquet ledger through the exactly-once
    // checkpoint/commit-log path, read back as the result — the
    // deployment shape the memory-sink harness entries stand in for
    // (r9 verdict's standing caveat). Restart resumption is proven by
    // the two-phase spec; here the oracle pins the ledger ≡ batch
    // DISTINCT.
    Q("stream_sink_files",
      (s, d) => graft.streaming.FileSinkStream.dedupLedger(s, d),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // Diversity-stratified corpus sampling: assign embeddings to k
    // coarse cells (one broadcast-centroid Lloyd pass — the IVF
    // assignment, ml/KMeans) and take a deterministic md5-ranked
    // quota per cell. The anti-mode-collapse sampler: a uniform draw
    // over-represents the corpus's dense modes, the per-cell quota
    // floors coverage of sparse regions. Vectors never shuffle for the
    // assignment (centroids broadcast); the quota window partitions by
    // cell.
    Q("sample_diverse_cells",
      (s, d) => {
        val q = Tables.embeddings(s, d).select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * lit(100.0))).as("qv"))
        val cells = graft.ml.KMeans.assignIterations(q, col("vec_id"),
            col("qv"), k = 8, stride = 37, iters = 1)
          .select(col("vec_id"), col("cluster"))
        val w = Window.partitionBy(col("cluster"))
          .orderBy(graft.functions.PortableHash.md5Long(
            col("vec_id").cast("string"), 15), col("vec_id"))
        cells.withColumn("rk", row_number().over(w).cast("int"))
          .filter(col("rk") <= 10)
      },
      Some(s"""WITH $kmeansFirstPassSql,
              r AS (SELECT vec_id, cid AS cluster,
                       CAST(row_number() OVER (PARTITION BY cid
                         ORDER BY CAST(concat('0x', substr(md5(
                           CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                           vec_id) AS INTEGER) AS rk
                     FROM a1)
              SELECT vec_id, cluster, rk FROM r WHERE rk <= 10""")),
  )

  // ---------------------------------------------------------------- §2.26
  private val round10f = Seq(
    // Manual runtime-filter injection — the 100 TB join technique
    // Catalyst's InjectRuntimeFilter automates: build a Bloom filter
    // over the SELECTIVE dim keyset distributed (BloomFilterAggregate,
    // one binary row out), ship it as a plan literal, and probe it in
    // the fact scan BEFORE the shuffle/exact join. ~1/5 of customers
    // match the segment, so ~4/5 of the fact rows die at the scan for
    // one xxhash64 + bitset test each; the exact semi join then removes
    // the ~1% false positives. Result ≡ plain semi join (the oracle).
    Q("join_bloom_prefilter",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        RuntimeFilter.bloomSemiJoin(Tables.orders(s, d), dim,
            col("o_custkey"), col("c_custkey"), expectedItems = 100000L)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total_price"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS total_price
              FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer
                                  WHERE c_mktsegment = 'BUILDING')
              GROUP BY 1""")),

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
      Some(s"""WITH g AS (SELECT
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
              FROM g""")),

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
      Some(s"""WITH $typeDowCellsSql,
              e AS (SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) *
                  sum(o) OVER (PARTITION BY dow) /
                  sum(o) OVER () AS e
                FROM cells)
              SELECT ${Portable.r6Sql("sum(pow(o - e, 2) / e)")} AS chi2,
                (count(DISTINCT event_type) - 1) *
                (count(DISTINCT dow) - 1) AS dof
              FROM e""")),

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
      Some(s"""SELECT event_id,
                ${Portable.r6Sql("sin(hour(CAST(ts AS TIMESTAMP)) * (2 * pi() / 24))")} + 0.0 AS hr_sin,
                ${Portable.r6Sql("cos(hour(CAST(ts AS TIMESTAMP)) * (2 * pi() / 24))")} + 0.0 AS hr_cos,
                ${Portable.r6Sql("sin(dayofweek(CAST(ts AS TIMESTAMP)) * (2 * pi() / 7))")} + 0.0 AS dow_sin,
                ${Portable.r6Sql("cos(dayofweek(CAST(ts AS TIMESTAMP)) * (2 * pi() / 7))")} + 0.0 AS dow_cos
              FROM events""")),

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
      Some(s"""WITH seq AS (SELECT user_id, event_type,
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
              FROM raw""")),

    // Deterministic negative sampling for contrastive training: k = 3
    // pseudo-random non-self negatives per document via the portable
    // md5 coin over (doc_id, k), joined back to fetch the negative's
    // features. Shuffle shape: one equi-join on neg_id — no random
    // shuffle, no driver RNG, reproducible across runs and engines.
    Q("sample_negative_pairs",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val cand = docs.select(col("doc_id"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("k"),
            col("n_docs"))
          .select(col("doc_id"), col("k"),
            pmod(graft.functions.PortableHash.md5Long(
                concat_ws(":", col("doc_id"), col("k")), 15),
              col("n_docs")).as("neg_id"))
          .filter(col("neg_id") =!= col("doc_id"))
        cand.join(docs.select(col("doc_id").as("neg_id"),
            col("n_chars").as("neg_chars")), Seq("neg_id"))
          .select(col("doc_id"), col("k"), col("neg_id"), col("neg_chars"))
      },
      Some("""WITH n AS (SELECT count(*) AS n_docs FROM documents),
              cand AS (SELECT d.doc_id, CAST(k.k AS INTEGER) AS k,
                  CAST(concat('0x', substr(md5(
                      concat(CAST(d.doc_id AS VARCHAR), ':',
                             CAST(k.k AS VARCHAR))), 1, 15)) AS BIGINT)
                    % (SELECT n_docs FROM n) AS neg_id
                FROM documents d CROSS JOIN
                  (SELECT unnest(range(0, 3)) AS k) k)
              SELECT c.doc_id, c.k, c.neg_id, d2.n_chars AS neg_chars
              FROM cand c JOIN documents d2 ON d2.doc_id = c.neg_id
              WHERE c.neg_id <> c.doc_id""")),

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
      Some(s"""WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
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
              FROM bydec""")),

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
      Some(s"""WITH e AS (SELECT vec_id,
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
              FROM e""")),
  )

  // ---------------------------------------------------------------- §2.27
  private val round10g = Seq(
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
      Some(raw"""WITH toks AS (SELECT unnest(string_split_regex(
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
              FROM top""")),

    // PMI collocation mining: pointwise mutual information of adjacent
    // token pairs, ln(c12·N / (c1·c2)) with marginals taken over the
    // PAIR population (the standard collocation estimator). Support
    // floor c12 ≥ 5 kills noise pairs before the marginal joins; the
    // final top-50 sort runs over the surviving collocations only.
    Q("text_pmi_bigrams",
      (s, d) => {
        val toks = Par.widen(Tables.documents(s, d))
          .select(Dedup.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 2)
        val pairs = toks.select(explode(transform(
            sequence(lit(1), size(col("__t")) - 1),
            i => struct(element_at(col("__t"), i).as("w1"),
              element_at(col("__t"), i + 1).as("w2")))).as("p"))
          .select(col("p.w1"), col("p.w2"))
          .filter(col("w1") =!= "" && col("w2") =!= "")
        // every downstream table derives from the ONE (w1, w2) count
        // aggregate (r18): the old shape re-ran the tokenize + pair-
        // explode corpus pass four times (n, big, u1, u2 each keyed
        // differently, so nothing reused); now all four consumers sit
        // above the same (w1, w2) exchange — AQE's ReusedExchange runs
        // the corpus pass once — and the marginals/total are exact sums
        // of c12 over the (much smaller) distinct-bigram table
        val bc = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val n = bc.agg(sum(col("c12")).cast("double").as("n"))
        val big = bc.filter(col("c12") >= 5)
        val u1 = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        val u2 = bc.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
        big.join(u1, "w1").join(u2, "w2").crossJoin(broadcast(n))
          .select(col("w1"), col("w2"), col("c12"),
            r6(log(col("c12").cast("double") * col("n") /
              (col("c1") * col("c2")))).as("pmi"))
          .orderBy(col("pmi").desc, col("w1"), col("w2"))
          .limit(50)
      },
      Some(raw"""WITH toks AS (SELECT string_split_regex(
                    lower(trim(text)), '\s+') AS ts FROM documents),
              pairs AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
                FROM toks, unnest(range(1, len(ts))) AS t(i)
                WHERE ts[i] <> '' AND ts[i + 1] <> ''),
              n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pairs),
              big AS (SELECT w1, w2, count(*) AS c12 FROM pairs
                GROUP BY 1, 2 HAVING count(*) >= 5),
              u1 AS (SELECT w1 AS w, count(*) AS c1 FROM pairs GROUP BY 1),
              u2 AS (SELECT w2 AS w, count(*) AS c2 FROM pairs GROUP BY 1)
              SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
                ${Portable.r6Sql("ln(b.c12 * (SELECT n FROM n) / (u1.c1 * u2.c2))")}
                  AS pmi
              FROM big b JOIN u1 ON u1.w = b.w1 JOIN u2 ON u2.w = b.w2
              ORDER BY pmi DESC, w1, w2 LIMIT 50""")),

    // Markup stripping — the first transform of any web-scraped corpus:
    // tag removal, entity removal, whitespace normalization. The
    // testdata is markup-free, so the query plants a deterministic
    // wrapper first (same wrap on both engines) — the regex chain is
    // what's under test. Pure per-row codegen'd string ops.
    Q("text_strip_markup",
      (s, d) => {
        val wrapped = concat(lit("<p class=\"body\">"), col("text"),
          lit("</p>\n<br/>&amp;&nbsp;"))
        val clean = trim(regexp_replace(regexp_replace(regexp_replace(
          wrapped, "<[^>]*>", " "), "&[a-z]+;", " "), "\\s+", " "))
        Tables.documents(s, d).select(col("doc_id"), clean.as("clean_text"),
          (length(wrapped) - length(clean)).as("n_stripped"))
      },
      Some("""SELECT doc_id,
                trim(regexp_replace(regexp_replace(regexp_replace(
                  concat('<p class="body">', text,
                    '</p>' || chr(10) || '<br/>&amp;&nbsp;'),
                  '<[^>]*>', ' ', 'g'), '&[a-z]+;', ' ', 'g'),
                  '\s+', ' ', 'g')) AS clean_text,
                length(concat('<p class="body">', text,
                    '</p>' || chr(10) || '<br/>&amp;&nbsp;')) -
                  length(trim(regexp_replace(regexp_replace(
                    regexp_replace(concat('<p class="body">', text,
                      '</p>' || chr(10) || '<br/>&amp;&nbsp;'),
                    '<[^>]*>', ' ', 'g'), '&[a-z]+;', ' ', 'g'),
                    '\s+', ' ', 'g'))) AS n_stripped
              FROM documents""")),

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
      Some("""WITH reps AS (SELECT e.event_id, e.value, b.b,
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
              FROM r""")),
  )

  // ---------------------------------------------------------------- §2.28
  private val round10h = Seq(
    // t-closeness — completes the k-anonymity / l-diversity privacy
    // trio: a QI cell can satisfy both and still leak if its SENSITIVE
    // distribution diverges from the global one. t = total-variation
    // distance between the cell's event_type distribution and the
    // corpus's, with absent types contributing their full global mass
    // (Σ_present |p_c − p_g| + (1 − Σ_present p_g)) / 2. Everything
    // derives from one (cell × type) count table — the margins are
    // window sums over it, never a rescan.
    Q("dq_t_closeness",
      (s, d) => {
        val counts = ev(s, d)
          .groupBy(hour(col("ts")).cast("int").as("hod"),
            floor(col("value") / 100).cast("long").as("band"),
            col("event_type"))
          .agg(count(lit(1)).cast("double").as("c"))
        val nCell = sum(col("c"))
          .over(Window.partitionBy(col("hod"), col("band")))
        val gType = sum(col("c"))
          .over(Window.partitionBy(col("event_type")))
        val gTot = sum(col("c")).over(Window.partitionBy())
        counts
          .select(col("hod"), col("band"), col("c"), nCell.as("n_cell"),
            (gType / gTot).as("p_g"))
          .groupBy(col("hod"), col("band"))
          .agg(min(col("n_cell")).cast("long").as("n_rows"),
            r6((sum(abs(col("c") / col("n_cell") - col("p_g"))) +
              (lit(1.0) - sum(col("p_g")))) / 2).as("t"))
          .filter(col("t") > 0.25)
      },
      Some(s"""WITH counts AS (SELECT
                  CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                    AS hod,
                  CAST(floor(value / 100) AS BIGINT) AS band,
                  event_type, CAST(count(*) AS DOUBLE) AS c
                FROM events GROUP BY 1, 2, 3),
              m AS (SELECT hod, band, c,
                  sum(c) OVER (PARTITION BY hod, band) AS n_cell,
                  sum(c) OVER (PARTITION BY event_type) /
                    sum(c) OVER () AS p_g
                FROM counts)
              SELECT hod, band,
                CAST(min(n_cell) AS BIGINT) AS n_rows,
                ${Portable.r6Sql("(sum(abs(c / n_cell - p_g)) + (1.0 - sum(p_g))) / 2")} AS t
              FROM m GROUP BY 1, 2
              HAVING ${Portable.r6Sql("(sum(abs(c / n_cell - p_g)) + (1.0 - sum(p_g))) / 2")} > 0.25""")),

    // Streaming A/B monitor (streaming/AbMonitorStream) — the live twin
    // of agg_welch_ttest: two rows of per-arm moment state (n, Σ, Σ²
    // over integer cents — exact sums, so micro-batch arrival order
    // cannot perturb the result), Welch t/df derived from the final
    // state. Oracle replays the identical cents formulas in batch.
    Q("stream_ab_monitor",
      (s, d) => graft.streaming.AbMonitorStream.runToCompletion(s, d),
      Some(s"""WITH g AS (SELECT
                  CASE WHEN CAST(concat('0x',
                      substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
                  count(*) AS n,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
                  sum(CAST(round(value * 100, 0) AS BIGINT) *
                      CAST(round(value * 100, 0) AS BIGINT)) AS q
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
              p AS (SELECT
                  min(CASE WHEN variant = 'A' THEN n END) AS na,
                  min(CASE WHEN variant = 'B' THEN n END) AS nb,
                  min(CASE WHEN variant = 'A' THEN s END) AS sa,
                  min(CASE WHEN variant = 'B' THEN s END) AS sb,
                  min(CASE WHEN variant = 'A' THEN q END) AS qa,
                  min(CASE WHEN variant = 'B' THEN q END) AS qb
                FROM g),
              f AS (SELECT na, nb,
                  CAST(sa AS DOUBLE) / 100.0 / CAST(na AS DOUBLE) AS ma,
                  CAST(sb AS DOUBLE) / 100.0 / CAST(nb AS DOUBLE) AS mb,
                  (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) *
                    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 10000.0 /
                    (CAST(na AS DOUBLE) - 1) AS va,
                  (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) *
                    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 10000.0 /
                    (CAST(nb AS DOUBLE) - 1) AS vb
                FROM p)
              SELECT na AS n_a, nb AS n_b,
                ${Portable.r6Sql("ma")} AS mean_a, ${Portable.r6Sql("mb")} AS mean_b,
                ${Portable.r6Sql("(ma - mb) / sqrt(va / na + vb / nb)")} AS t_stat,
                round(pow(va / na + vb / nb, 2) /
                  (pow(va / na, 2) / (na - 1) +
                   pow(vb / nb, 2) / (nb - 1)), 2) AS df
              FROM f""")),

    // Stats-manifest sink — the Delta/Iceberg file-statistics pattern:
    // write day-partitioned parquet (repartition by day first, so each
    // day is exactly one file) and emit the per-FILE manifest of
    // (rows, min, max) a data-skipping reader would prune on. At
    // 100 TB this manifest IS what makes point/range lookups cheap:
    // the reader consults day+minmax instead of opening files. The
    // manifest is honestly file-level (input_file_name grouping);
    // one-file-per-day makes it oracle-comparable.
    Q("sink_manifest_stats",
      (s, d) => {
        val tmp = Scratch.dir("graft_manifest")
        ev(s, d)
          .withColumn("day", to_date(col("ts")))
          .withColumn("cents", round(col("value") * 100, 0).cast("long"))
          .repartition(col("day"))
          .write.mode("overwrite").partitionBy("day").parquet(tmp)
        s.read.parquet(tmp)
          .select(col("day"), col("cents"),
            input_file_name().as("__file"))
          .groupBy(col("day"), col("__file"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"))
          .drop("__file")
      },
      Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows,
                min(CAST(round(value * 100, 0) AS BIGINT)) AS min_cents,
                max(CAST(round(value * 100, 0) AS BIGINT)) AS max_cents
              FROM events GROUP BY 1""")),
  )

  // ---------------------------------------------------------------- §2.29
  private val round10i = Seq(
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
      Some(s"""SELECT l_returnflag, count(*) AS n,
                ${Portable.r6Sql("regr_slope(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS elasticity,
                ${Portable.r6Sql("regr_intercept(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS intercept,
                ${Portable.r6Sql("regr_r2(ln(l_quantity), ln(l_extendedprice / l_quantity))")} AS r2
              FROM lineitem GROUP BY 1""")),

    // Near-dup threshold operating curve: the pair-similarity histogram
    // that tells an operator where to SET the dedup threshold before
    // committing to one — LSH candidates verified down to 0.3, bucketed
    // by jaccard decile, with the cumulative pair count a given
    // threshold would remove. Same bounded LSH candidate generation as
    // dedup_minhash_lsh; the sweep costs one extra decile-sized
    // aggregate, not one run per candidate threshold.
    Q("dedup_threshold_sweep",
      // unscoped like dedup_minhash_lsh: the plan is lazy, so the
      // shingle-base cache must live until the harness clearCache
      (s, d) => {
        val b = Dedup.minhashLshPairs(
            withPlantedDups(Tables.documents(s, d)),
            col("doc_id"), col("text"), threshold = 0.3)
          .groupBy(floor(col("jaccard") * 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_pairs"))
        b.withColumn("n_pairs_cum",
          sum(col("n_pairs")).over(Window.orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      },
      Some(s"""WITH $plantedDocsSql,
              $minhashCtesSql,
              b AS (SELECT CAST(floor(${Portable.r6Sql("j")} * 10) AS INTEGER)
                      AS bucket, count(*) AS n_pairs
                    FROM verified WHERE j >= 0.3 GROUP BY 1)
              SELECT bucket, n_pairs,
                CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_pairs_cum
              FROM b""")),
  )

  // ---------------------------------------------------------------- §2.30
  // Time-series audit statistics over per-type DAILY aggregates. Shared
  // determinism move: daily means never materialize as floats — each day
  // carries exact (Σcents, n), and every comparison cross-multiplies
  // integers (sign(s_b·n_a − s_a·n_b)), so partial-aggregation order can
  // never flip a sign. The day table is ~30 rows per type: the only
  // corpus-sized pass is the daily aggregate; the O(days²) pair join and
  // the argmax windows are dim-sized.
  /** Per-type daily series as exact integers: (event_type, day,
    * Σcents, n). Every §2.30 statistic compares days by
    * cross-multiplied integers, never by a float mean.
    */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
        count(lit(1)).as("n"))

  private val round10j = Seq(
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
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
                  count(*) AS n
                FROM events GROUP BY 1, 2),
              p AS (SELECT a.event_type,
                  sign(b.s * a.n - a.s * b.n) AS sgn
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.day < b.day)
              $mannKendallTauSql""")),

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
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM r WHERE rk = 1""")),

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
      Some(s"""WITH $typeDowCellsSql,
              e AS (SELECT event_type, dow, o,
                  sum(o) OVER (PARTITION BY event_type) *
                  sum(o) OVER (PARTITION BY dow) /
                  sum(o) OVER () AS e,
                  sum(o) OVER () AS bign
                FROM cells)
              SELECT ${Portable.r6Sql("sqrt( sum(pow(o - e, 2) / e) / (min(bign) * least(count(DISTINCT event_type) - 1, count(DISTINCT dow) - 1)))")} AS v,
                CAST(min(bign) AS BIGINT) AS n
              FROM e""")),

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
      Some(s"""WITH seq AS (SELECT user_id, event_type,
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
              FROM pc WHERE rm <> 'none'""")),

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
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              WHERE d.day >= DATE '2024-01-16' GROUP BY 1""")),

    // RFM segmentation — the classic customer scoring: recency (days
    // since last purchase), frequency (purchase count), monetary
    // (Σcents), each cut into quintiles (unique-keyed ntile ties), the
    // three digits concatenated into the segment code. The per-user
    // aggregate is the only corpus-sized pass. The three quintiles come
    // from ScalableRank.globalNtile (r19): the user dim GROWS with data
    // (150→1.5k per SF step; row-scale at 100 TB), so the old three
    // unpartitioned ntile(5) windows were one-reducer funnels. Buckets
    // per ordering are value-domain-bounded and ASC-monotone: the day
    // grid for recency, the negated count for f DESC, the negated
    // 4096-cent band for m DESC.
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
        // all three quintiles ride ONE bucket-offset machinery (§2.4):
        // unpivot (metric, value) so one offsets aggregate, one
        // numbering window and one pivot-back serve r/f/m together —
        // the chained per-metric form re-numbers the user dim three
        // times. v is ASC-uniform (negated for the DESC metrics); the
        // band is value-domain-bounded per metric (day grid / negated
        // count / negated 4096-cent band), met leads every key so the
        // three metrics never share a partition or an offset.
        val unp = per.select(col("user_id"), col("recency_days"),
            col("f"), col("m"),
            explode(array(
              struct(lit(1).as("met"),
                col("recency_days").cast("long").as("v")),
              struct(lit(2).as("met"), (-col("f")).as("v")),
              struct(lit(3).as("met"), (-col("m")).as("v"))))
              .as("x"))
          .select(col("user_id"), col("recency_days"), col("f"), col("m"),
            col("x.met").as("met"),
            col("x.v").as("v"),
            when(col("x.met") === 3, expr("x.v div 4096"))
              .otherwise(col("x.v")).as("band"))
        val offs = unp.groupBy(col("met"), col("band"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__off", coalesce(sum(col("__c")).over(
            Window.partitionBy(col("met")).orderBy(col("band"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("__n",
            sum(col("__c")).over(Window.partitionBy(col("met"))))
          .drop("__c")
        val tiled = unp
          .join(broadcast(offs), Seq("met", "band"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("met"), col("band"))
              .orderBy(col("v"), col("user_id"))).cast("long") +
            col("__off"))
          // the standard SQL ntile split (globalNtile's formula): the
          // first n%5 tiles take (n div 5)+1 rows, the rest n div 5
          .withColumn("__t", expr(
            """CASE WHEN __rn <= (__n % 5) * ((__n div 5) + 1)
                 THEN ((__rn - 1) div ((__n div 5) + 1)) + 1
                 ELSE (__n % 5) +
                   ((__rn - 1 - (__n % 5) * ((__n div 5) + 1))
                     div (__n div 5)) + 1 END""").cast("int"))
        tiled.groupBy(col("user_id"), col("recency_days"),
            col("f"), col("m"))
          .agg(max(when(col("met") === 1, col("__t"))).as("r_q"),
            max(when(col("met") === 2, col("__t"))).as("f_q"),
            max(when(col("met") === 3, col("__t"))).as("m_q"))
          .withColumn("segment", concat_ws("-",
            col("r_q"), col("f_q"), col("m_q")))
      },
      Some("""WITH per AS (SELECT user_id,
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
              FROM r""")),

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
      Some(raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
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
              FROM t GROUP BY 1""")),

    // Pure-SQL surface, end-to-end: the same engine driven entirely
    // through spark.sql over registered views — what a notebook/BI
    // caller sees. Multi-CTE: daily per-type revenue, 7-day trailing
    // average, in-type rank. The view registers the ADAPTED events
    // table, so the ts-encoding branch rides underneath the SQL
    // surface too.
    Q("sql_analytics_pipeline",
      (s, d) => {
        ev(s, d).createOrReplaceTempView("events_v")
        s.sql("""
          WITH daily AS (
            SELECT event_type, to_date(ts) AS day,
              sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
            FROM events_v GROUP BY 1, 2),
          win AS (
            SELECT event_type, day, cents,
              avg(cents) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
              rank() OVER (PARTITION BY event_type
                ORDER BY cents DESC, day) AS rk
            FROM daily)
          SELECT event_type, day, cents, round(ma7, 2) AS ma7,
            CAST(rk AS INT) AS rk
          FROM win""")
      },
      Some("""WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
                FROM events GROUP BY 1, 2),
              win AS (
                SELECT event_type, day, cents,
                  avg(cents) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
                  rank() OVER (PARTITION BY event_type
                    ORDER BY cents DESC, day) AS rk
                FROM daily)
              SELECT event_type, day, cents, round(ma7, 2) AS ma7,
                CAST(rk AS INTEGER) AS rk
              FROM win""")),

    // Pure-SQL similarity scoring through the REGISTERED native
    // expression (graft_float_dot — GraftExtensions/
    // registerSqlFunctions): the ANN hot path reachable from a SQL
    // string, codegen'd, no Column API in sight. Oracle uses DuckDB's
    // list_dot_product over double-cast lists (bit-identical
    // element-order double accumulation).
    Q("sql_topk_similarity",
      (s, d) => {
        org.apache.spark.sql.graftnative.GraftNative.registerSqlFunctions(s)
        Tables.embeddings(s, d).createOrReplaceTempView("emb_v")
        // the CASE form is Portable.r4's expansion — valid (and
        // identical) Spark SQL, keeping this the pure-SQL surface
        s.sql(s"""
          WITH q AS (SELECT embedding AS qe FROM emb_v WHERE vec_id = 0)
          SELECT e.vec_id,
            ${Portable.r4Sql("graft_float_dot(e.embedding, q.qe)")}
              AS score
          FROM emb_v e CROSS JOIN q
          WHERE e.vec_id <> 0
          ORDER BY score DESC, e.vec_id LIMIT 20""")
      },
      Some(s"""WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                FROM embeddings),
              q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
              SELECT e.vec_id,
                ${Portable.r4Sql("list_dot_product(e.emb, q.qe)")} AS score
              FROM e CROSS JOIN q
              WHERE e.vec_id <> 0
              ORDER BY score DESC, e.vec_id LIMIT 20""")),

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
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  dayofweek(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS dow,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
                  count(*) AS n
                FROM events GROUP BY 1, 2, 3),
              p AS (SELECT a.event_type,
                  sign(b.s * a.n - a.s * b.n) AS sgn
                FROM daily a JOIN daily b
                  ON a.event_type = b.event_type AND a.dow = b.dow
                    AND a.day < b.day)
              $mannKendallTauSql""")),

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
      Some(s"""WITH cells AS (SELECT CAST(ts AS DATE) AS day, event_type,
                  CAST(count(*) AS DOUBLE) AS c
                FROM events GROUP BY 1, 2),
              t AS (SELECT day, c,
                  sum(c) OVER (PARTITION BY day) AS t FROM cells)
              SELECT day, count(*) AS n_types,
                ${Portable.r6Sql("sum(pow(c / t, 2))")} AS hhi
              FROM t GROUP BY 1""")),
  )

  // ---------------------------------------------------------------- §2.32
  private val round11 = Seq(
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
      Some(s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM r GROUP BY 1""")),

    // Two-sample Kolmogorov–Smirnov distance between the value
    // distributions of two event types: sup |F₁ − F₂| over the merged
    // support. Grouping by distinct value first collapses the data to
    // its support; the global cumulative counts then ride the bucketed
    // prefix sum (bucket = floor(value), monotone in the order — no
    // single-partition window at any size).
    Q("dq_ks_test",
      (s, d) => {
        val sdf = clickViewSample(s, d)
        val g = sdf.groupBy(col("value"))
          .agg(sum(col("i1")).as("c1"),
            (count(lit(1)) - sum(col("i1"))).as("c2"))
        val cum1 = ScalableRank.globalPrefixSum(g, floor(col("value")),
          Seq(col("value")), col("c1"), "cum1", inclusive = true)
        val cum = ScalableRank.globalPrefixSum(cum1, floor(col("value")),
          Seq(col("value")), col("c2"), "cum2", inclusive = true)
        val n = sdf.agg(sum(col("i1")).as("n1"),
          (count(lit(1)) - sum(col("i1"))).as("n2"))
        cum.crossJoin(broadcast(n))
          .groupBy(col("n1"), col("n2"))
          .agg(r6(max(abs(col("cum1") / col("n1") -
            col("cum2") / col("n2")))).as("ks_d"))
          .select(col("ks_d"), col("n1"), col("n2"))
      },
      Some(s"""WITH s AS (SELECT value,
                  CASE WHEN event_type='click' THEN 1 ELSE 0 END AS i1
                FROM events WHERE event_type IN ('click', 'view')),
              n AS (SELECT sum(i1) AS n1, count(*) - sum(i1) AS n2 FROM s),
              g AS (SELECT value, sum(i1) AS c1, count(*) - sum(i1) AS c2
                FROM s GROUP BY 1),
              c AS (SELECT value,
                  sum(c1) OVER (ORDER BY value) AS cum1,
                  sum(c2) OVER (ORDER BY value) AS cum2 FROM g)
              SELECT ${Portable.r6Sql("max(abs(cum1 * 1.0 / n.n1 - cum2 * 1.0 / n.n2))")} AS ks_d,
                CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2
              FROM c, n GROUP BY n.n1, n.n2""")),

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
      Some(s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
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
              JOIN na y ON y.event_type = p.cons, n""")),

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
      Some("""WITH m AS (SELECT user_id,
                  bit_or(CAST(1 AS BIGINT) << hour(CAST(ts AS TIMESTAMP)))
                    AS mask
                FROM events GROUP BY 1)
              SELECT bit_count(mask) AS n_active_hours, count(*) AS n_users
              FROM m GROUP BY 1""")),

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
      Some("""WITH b AS (SELECT event_type,
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
                    GROUP BY 1)""")),

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
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM win""")),

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
      Some(s"""WITH s AS (SELECT value,
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
              FROM agg""")),

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
      Some(s"""WITH s AS (SELECT value AS y,
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
              FROM m""")),

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
      Some(s"""WITH hm AS (SELECT event_type,
                  hour(CAST(ts AS TIMESTAMP)) AS h, avg(value) AS hmean
                FROM events GROUP BY 1, 2)
              SELECT e.event_type, count(*) AS n,
                ${Portable.r6Sql("greatest(0.0, 1.0 - var_pop(e.value - hm.hmean) / var_pop(e.value))")} AS strength
              FROM events e JOIN hm ON hm.event_type = e.event_type
                AND hm.h = hour(CAST(e.ts AS TIMESTAMP))
              GROUP BY 1""")),

    // Character-level Shannon entropy per document (non-whitespace
    // chars) — the classic low-entropy/boilerplate and high-entropy/
    // binary-noise corpus filter. Explode → per-doc frequency →
    // partition-local window for the total; entropy in one aggregate.
    Q("text_char_entropy",
      (s, d) => {
        // strip whitespace with ONE regex pass per document before the
        // char split (r18) — the old shape exploded first and ran an
        // rlike per character row (~a regex eval per corpus char); the
        // surviving char set is identical (a 1-char string matches
        // ^\S$ iff the char survives \s-removal)
        val ch = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"),
            explode(split(regexp_replace(lower(col("text")), "\\s", ""),
              "")).as("c"))
          .filter(col("c") =!= "")
        val f = ch.groupBy(col("doc_id"), col("c"))
          .agg(count(lit(1)).as("cnt"))
        val n = sum(col("cnt")).over(Window.partitionBy(col("doc_id")))
        f.select(col("doc_id"), col("cnt"), n.as("n"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_chars_nospace"),
            r6(-sum((col("cnt") / col("n")) *
              log2(col("cnt") / col("n")))).as("entropy_bits"))
      },
      Some(raw"""WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(
                    lower(text), '\S')) AS c
                FROM documents),
              f AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
              t AS (SELECT doc_id, c, cnt,
                  sum(cnt) OVER (PARTITION BY doc_id) AS n FROM f)
              SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars_nospace,
                ${Portable.r6Sql("-sum((cnt*1.0/n) * log2(cnt*1.0/n))")}
                  AS entropy_bits
              FROM t GROUP BY 1""")),

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
      Some(s"""WITH $hourlyCentsSql,
              p AS (SELECT event_type, y, lag(y, 24) OVER
                  (PARTITION BY event_type ORDER BY hr) AS pred FROM h)
              SELECT event_type, count(*) AS n,
                ${Portable.r6Sql("avg(abs(y - pred))")} AS mae,
                ${Portable.r6Sql("avg(CASE WHEN abs(y) >= 10 THEN abs(y - pred)/abs(y) END) * 100")} AS mape
              FROM p WHERE pred IS NOT NULL GROUP BY 1""")),

    // OCR/markup-noise heuristics per document: longest consonant run
    // + symbol ratio → gibberish flag — the cheap lexical screen that
    // runs before any model-based quality score. Pure per-row regex,
    // fully codegen'd, no shuffle at all.
    Q("text_gibberish_score",
      (s, d) => Par.widen(Tables.documents(s, d))
        .select(col("doc_id"),
          coalesce(array_max(transform(regexp_extract_all(
              lower(col("text")),
              lit("[bcdfghjklmnpqrstvwxz]+"), lit(0)),
            x => length(x))), lit(0)).cast("long").as("max_consonant_run"),
          (length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")) /
            greatest(length(col("text")), lit(1)).cast("double"))
            .as("sym_ratio"))
        .select(col("doc_id"), col("max_consonant_run"),
          r6(col("sym_ratio")).as("symbol_ratio"),
          when(col("max_consonant_run") >= 5 || col("sym_ratio") > 0.3, 1)
            .otherwise(0).as("is_gibberish")),
      Some(raw"""WITH m AS (SELECT doc_id,
                  coalesce((SELECT max(length(r)) FROM unnest(
                    regexp_extract_all(lower(text),
                      '[bcdfghjklmnpqrstvwxz]+')) AS u(r)), 0)
                    AS max_consonant_run,
                  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                    * 1.0 / greatest(length(text), 1) AS sym_ratio
                FROM documents)
              SELECT doc_id,
                CAST(max_consonant_run AS BIGINT) AS max_consonant_run,
                ${Portable.r6Sql("sym_ratio")} AS symbol_ratio,
                CASE WHEN max_consonant_run >= 5 OR sym_ratio > 0.3
                  THEN 1 ELSE 0 END AS is_gibberish
              FROM m""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 2:
  // audience accounting (new/returning, lifetimes, rates), sensor and
  // effect-size audits, rolling nonparametric rank, corpus vocabulary
  // richness, and the streaming bitmap twin.
  private val round11b = Seq(
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
      Some(s"""WITH $hourlyCentsSql,
              l AS (SELECT event_type, hr, y,
                  list(y) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS w
                FROM h)
              SELECT event_type, hr,
                ${Portable.r6Sql("len(list_filter(w, x -> x <= y)) * 1.0 / len(w)")}
                  AS pct_rank
              FROM l""")),

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
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events GROUP BY 1),
              d AS (SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day
                FROM events e)
              SELECT d.day,
                CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
                CAST(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS returning_users
              FROM d JOIN f ON f.user_id = d.user_id GROUP BY 1""")),

    // Sensor-saturation audit: the share of readings pinned at the
    // observed min/max per series — a clipped sensor shows mass at the
    // rail. Bounds are a dim-sized aggregate broadcast over the scan.
    Q("dq_value_saturation",
      (s, d) => {
        val b = ev(s, d).groupBy(col("event_type"))
          .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        ev(s, d).join(broadcast(b), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") === col("lo"), 1).otherwise(0))
              .cast("long").as("n_at_min"),
            sum(when(col("value") === col("hi"), 1).otherwise(0))
              .cast("long").as("n_at_max"),
            r6(sum(when(col("value") === col("lo") ||
                col("value") === col("hi"), 1).otherwise(0)) /
              count(lit(1)).cast("double")).as("saturation_share"))
      },
      Some(s"""WITH b AS (SELECT event_type, min(value) AS lo,
                  max(value) AS hi
                FROM events GROUP BY 1)
              SELECT e.event_type, count(*) AS n,
                CAST(sum(CASE WHEN e.value = b.lo THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_at_min,
                CAST(sum(CASE WHEN e.value = b.hi THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_at_max,
                ${Portable.r6Sql("sum(CASE WHEN e.value = b.lo OR e.value = b.hi THEN 1 ELSE 0 END) * 1.0 / count(*)")}
                  AS saturation_share
              FROM events e JOIN b ON b.event_type = e.event_type
              GROUP BY 1""")),

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
      Some(s"""SELECT user_id,
                CAST(date_diff('day', min(CAST(ts AS DATE)),
                  max(CAST(ts AS DATE))) + 1 AS BIGINT) AS lifespan_days,
                CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                  AS active_days,
                count(*) AS n_events,
                ${Portable.r6Sql("count(*) * 1.0 / count(DISTINCT CAST(ts AS DATE))")}
                  AS events_per_active_day
              FROM events GROUP BY 1""")),

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
      Some(s"""WITH s AS (SELECT event_type, value,
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
              FROM m""")),

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
      Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM m""")),

    // Type-token ratio + hapax share per document — the vocabulary-
    // richness screen (template/boilerplate docs have low TTR, OCR
    // noise has high hapax share). Same tokenizer contract as the
    // vocab/logprob family; one explode + two nested keyed aggregates.
    Q("text_type_token_ratio",
      (s, d) => {
        val f = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
        f.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            r6(count(lit(1)) / sum(col("c")).cast("double"))
              .as("ttr"),
            sum(when(col("c") === 1, 1).otherwise(0)).cast("long")
              .as("n_hapax"),
            r6(sum(when(col("c") === 1, 1).otherwise(0)) /
              count(lit(1)).cast("double")).as("hapax_share"))
      },
      Some(raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
              f AS (SELECT doc_id, tok, count(*) AS c
                FROM t GROUP BY 1, 2)
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_types,
                ${Portable.r6Sql("count(*) * 1.0 / sum(c)")} AS ttr,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                ${Portable.r6Sql("sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS hapax_share
              FROM f GROUP BY 1""")),

    // Streaming twin of the activity bitmap's per-user stage: ONE long
    // of bit_or state per user — OR is commutative, associative, AND
    // idempotent, so stream state ≡ batch aggregate under any arrival
    // order or replay (the strongest merge guarantee in the streaming
    // family; the spec asserts stream ≡ batch).
    Q("stream_bitmap_state",
      (s, d) => graft.streaming.BitmapStream.runToCompletion(s, d),
      Some("""SELECT user_id,
                bit_or(CAST(1 AS BIGINT) << hour(CAST(ts AS TIMESTAMP)))
                  AS mask
              FROM events GROUP BY 1""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 3:
  // robust rolling outlier detection, randomness testing, time-series
  // CV folds, readability scoring, the scalable quantile transform,
  // and softmax shares.
  private val round11b2 = Seq(
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
      Some("""WITH l AS (SELECT event_id, user_id, value,
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
              FROM m4""")),

    // Wald–Wolfowitz runs test on the daily revenue series: does the
    // above/below-median sign sequence look random, or does it trend/
    // oscillate? Values equal to the median are dropped (the standard
    // convention). The sign sequence and lag live on the day dim
    // (~corpus-days rows) — the one corpus-sized job is the daily
    // aggregate.
    Q("dq_runs_test",
      (s, d) => {
        val daily = ev(s, d).groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
            .cast("double").as("rev"))
        val med = daily.agg(percentile(col("rev"), lit(0.5)).as("m"))
        val sgn = daily.crossJoin(broadcast(med))
          .filter(col("rev") =!= col("m"))
          .select(col("day"),
            when(col("rev") > col("m"), 1).otherwise(0).as("sgn"))
        val r = sgn.withColumn("prev",
          lag(col("sgn"), 1).over(Window.orderBy(col("day"))))
        val agg = r.agg(
          sum(col("sgn")).cast("double").as("n1"),
          (count(lit(1)) - sum(col("sgn"))).cast("double").as("n2"),
          (lit(1) + sum(when(col("prev").isNotNull &&
            col("sgn") =!= col("prev"), 1).otherwise(0))).as("runs"))
        agg.select(col("n1").cast("long").as("n_above"),
          col("n2").cast("long").as("n_below"),
          col("runs").cast("long").as("n_runs"),
          r6((col("runs") - (lit(2) * col("n1") * col("n2") /
              (col("n1") + col("n2")) + 1)) /
            sqrt(lit(2) * col("n1") * col("n2") *
              (lit(2) * col("n1") * col("n2") - col("n1") - col("n2")) /
              ((col("n1") + col("n2")) * (col("n1") + col("n2")) *
                (col("n1") + col("n2") - 1)))).as("z"))
      },
      Some(s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    AS rev
                FROM events GROUP BY 1),
              med AS (SELECT quantile_cont(rev, 0.5) AS m FROM d),
              s AS (SELECT day, CASE WHEN rev > med.m THEN 1 ELSE 0 END
                  AS sgn
                FROM d, med WHERE rev <> med.m),
              r AS (SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev
                FROM s),
              agg AS (SELECT CAST(sum(sgn) AS DOUBLE) AS n1,
                  CAST(count(*) - sum(sgn) AS DOUBLE) AS n2,
                  1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
                    THEN 1 ELSE 0 END) AS runs
                FROM r)
              SELECT CAST(n1 AS BIGINT) AS n_above,
                CAST(n2 AS BIGINT) AS n_below,
                CAST(runs AS BIGINT) AS n_runs,
                ${Portable.r6Sql("(runs - (2*n1*n2/(n1+n2) + 1)) / sqrt(2*n1*n2*(2*n1*n2 - n1 - n2) / ((n1+n2)*(n1+n2)*(n1+n2-1)))")} AS z
              FROM agg""")),

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
      Some("""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day
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
                  END IS NOT NULL""")),

    // Flesch reading-ease per document with a vowel-group syllable
    // proxy — the readability screen between the lexical (gibberish)
    // and statistical (logprob) quality scores. Three regex counts per
    // row, codegen'd, zero shuffle.
    Q("text_readability",
      (s, d) => {
        val words = size(regexp_extract_all(lower(trim(col("text"))),
          lit("\\S+"), lit(0)))
        val sentences = greatest(size(regexp_extract_all(col("text"),
          lit("[.!?]+"), lit(0))), lit(1))
        val syllables = size(regexp_extract_all(lower(col("text")),
          lit("[aeiouy]+"), lit(0)))
        Par.widen(Tables.documents(s, d))
          .select(col("doc_id"),
            words.cast("long").as("n_words"),
            sentences.cast("long").as("n_sentences"),
            syllables.cast("long").as("n_syllables"),
            r6(lit(206.835) -
              lit(1.015) * (words / sentences.cast("double")) -
              lit(84.6) * (syllables / greatest(words, lit(1))
                .cast("double"))).as("flesch"))
      },
      Some(raw"""SELECT doc_id,
                CAST(len(regexp_extract_all(lower(trim(text)), '\S+'))
                  AS BIGINT) AS n_words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables,
                ${Portable.r6Sql(
                  """206.835 - 1.015 * (len(regexp_extract_all(lower(trim(text)), '\S+')) * """ +
                    """1.0 / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)) - 84.6 * """ +
                    """(len(regexp_extract_all(lower(text), '[aeiouy]+')) * 1.0 / """ +
                    """greatest(len(regexp_extract_all(lower(trim(text)), '\S+')), 1))""")}
                  AS flesch
              FROM documents""")),

    // Quantile normalization: map every value to its mid-rank uniform
    // quantile WITHIN its series — the rank-based feature transform
    // that kills distribution drift. No per-type whole-partition sort
    // anywhere: the grouped (type, value) support rides ONE bucketed
    // global prefix sum ordered (type, value); subtracting each type's
    // broadcast offset converts the global running count into the
    // per-type one, and the transform table joins back to the rows.
    Q("f_quantile_normalize",
      (s, d) => {
        val g = ev(s, d).groupBy(col("event_type"), col("value"))
          .agg(count(lit(1)).as("ct"))
        val cum = ScalableRank.globalPrefixSum(g,
          struct(col("event_type"), floor(col("value"))),
          Seq(col("event_type"), col("value")), col("ct"), "gbefore",
          inclusive = false)
        val totals = g.groupBy(col("event_type"))
          .agg(sum(col("ct")).as("ntype"))
          .withColumn("offset", coalesce(
            sum(col("ntype")).over(Window.orderBy(col("event_type"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val table = cum.join(broadcast(totals), Seq("event_type"))
          .select(col("event_type"), col("value"),
            r6((col("gbefore") - col("offset") +
              (col("ct") + 1) / lit(2.0)) / col("ntype")).as("q"))
        ev(s, d).select(col("event_id"), col("event_type"), col("value"))
          .join(table, Seq("event_type", "value"))
          .select(col("event_id"), col("q"))
      },
      Some(s"""WITH r AS (SELECT event_id, event_type, value,
                  rank() OVER (PARTITION BY event_type ORDER BY value) +
                    (count(*) OVER (PARTITION BY event_type, value) - 1)
                      / 2.0 AS ar,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM events)
              SELECT event_id, ${Portable.r6Sql("ar / n")} AS q
              FROM r""")),

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
      Some(s"""WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
                  sum(CAST(floor(value*100+0.5) AS BIGINT)) / 10000.0 AS x
                FROM events GROUP BY 1, 2),
              m AS (SELECT day, event_type, x,
                  max(x) OVER (PARTITION BY day) AS mx FROM d)
              SELECT day, event_type,
                ${Portable.r6Sql("exp(x - mx) / sum(exp(x - mx)) OVER (PARTITION BY day)")} AS share
              FROM m""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 4:
  // the snowflake dimension chain, Heikin-Ashi candles, robust paired
  // estimators, vocabulary burstiness, and scalar calibration error.
  private val round11c = Seq(
    // TPC-H Q5-shaped snowflake rollup: revenue per region/year through
    // the lineitem→orders→customer→nation→region chain. The two fact
    // joins shuffle on their keys (orderkey, custkey); nation and
    // region are explicit broadcasts, so the dim chain collapses into
    // map-side lookups after the last shuffle — the canonical
    // star/snowflake plan at any scale.
    Q("join_snowflake_chain",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        val dims = n.join(broadcast(r),
          n("n_regionkey") === r("r_regionkey"))
          .select(col("n_nationkey"), col("r_name"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(dims), c("c_nationkey") === col("n_nationkey"))
          .groupBy(col("r_name").as("region"),
            year(col("o_orderdate").cast("date")).as("yr"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
              2).as("revenue"))
      },
      Some("""SELECT r.r_name AS region,
                CAST(year(CAST(o.o_orderdate AS DATE)) AS INTEGER) AS yr,
                count(*) AS n_items,
                round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                  AS revenue
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              JOIN customer c ON c.c_custkey = o.o_custkey
              JOIN nation n ON n.n_nationkey = c.c_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              GROUP BY 1, 2""")),

    // Heikin-Ashi smoothed candles — the recursive candle transform
    // traders read trends from; see TimeSeries.heikinAshi for the
    // fold/recursive-CTE exactness contract.
    Q("win_heikin_ashi",
      (s, d) => TimeSeries.heikinAshi(
        evFloorCents(s, d),
        col("event_type"), col("ts"), col("__vc"), col("event_id"),
        keyName = "event_type"),
      Some(s"""WITH RECURSIVE $candleTicksSql,
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
              FROM rec""")),

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
      Some(s"""WITH $dailyRevenueSql,
              p AS (SELECT a.event_type, (a.rev + b.rev)/2.0 AS w
                FROM d a JOIN d b ON a.event_type = b.event_type
                  AND a.day <= b.day)
              SELECT event_type, count(*) AS n_pairs,
                ${Portable.r6Sql("quantile_cont(w, 0.5)")} AS hl_estimate
              FROM p GROUP BY 1""")),

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
      Some(s"""WITH $dailyRevenueSql,
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
              FROM agg""")),

    // Token burstiness (variance-to-mean of per-doc counts, zeros
    // included via the moment identity) for tokens in ≥5 docs, top-20
    // — bursty tokens are topical, uniform ones are function words;
    // the dispersion readout tf-idf approximates. Corpus-sized explode
    // → keyed moments; the top-k is a bounded dim sort.
    Q("text_token_burstiness",
      (s, d) => {
        val t = Par.widen(Tables.documents(s, d))
          .select(col("doc_id"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
        val nd = t.agg(countDistinct(col("doc_id")).as("nd"))
        val st = t.groupBy(col("tok"), col("doc_id"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
            sum(col("c") * col("c")).as("sumsq"))
          .filter(col("df") >= 5)
        val m = col("total") / col("nd")
        st.crossJoin(broadcast(nd))
          .select(col("tok"), col("df").as("doc_freq"),
            col("total").as("n_occurrences"),
            r6((col("sumsq") / col("nd") - m * m) / m)
              .as("burstiness"))
          .orderBy(col("burstiness").desc, col("tok"))
          .limit(20)
      },
      Some(raw"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok FROM documents),
              t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
              ndocs AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
              f AS (SELECT tok, doc_id, count(*) AS c
                FROM t GROUP BY 1, 2),
              st AS (SELECT tok, count(*) AS df,
                  CAST(sum(c) AS BIGINT) AS total,
                  CAST(sum(c*c) AS BIGINT) AS sumsq FROM f GROUP BY 1),
              b AS (SELECT tok, df, total,
                  (sumsq * 1.0 / nd - (total * 1.0 / nd) *
                    (total * 1.0 / nd)) / (total * 1.0 / nd)
                    AS burstiness
                FROM st, ndocs WHERE df >= 5)
              SELECT tok, CAST(df AS BIGINT) AS doc_freq,
                total AS n_occurrences, ${Portable.r6Sql("burstiness")} AS burstiness
              FROM b ORDER BY burstiness DESC, tok LIMIT 20""")),

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
      Some(s"""WITH $hashedLabelsSql,
              b AS (SELECT CAST((h * 10) // 16777216 AS BIGINT) AS bin,
                  count(*) AS n,
                  CAST(sum(lab) AS BIGINT) * 1.0 / count(*) AS acc,
                  CAST(sum(h) AS BIGINT) / 16777216.0 / count(*) AS conf
                FROM t GROUP BY 1),
              tot AS (SELECT sum(n) AS total FROM b)
              SELECT CAST(tot.total AS BIGINT) AS n,
                ${Portable.r6Sql("sum((b.n * 1.0 / tot.total) * abs(b.acc - b.conf))")} AS ece,
                ${Portable.r6Sql("max(abs(b.acc - b.conf))")} AS mce
              FROM b, tot GROUP BY tot.total""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 5:
  // value-RANGE frames, range volatility, white-noise auditing, and
  // ecological population estimation.
  private val round11d = Seq(
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
      Some("""SELECT event_id,
                count(*) OVER (PARTITION BY event_type ORDER BY value
                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS n_near,
                floor(avg(floor(value * 100 + 0.5)) OVER
                  (PARTITION BY event_type ORDER BY value
                  RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) / 100.0
                  * 1000000 + 0.5) / 1000000 AS avg_near
              FROM events""")),

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
      Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM d WHERE l > 0 GROUP BY 1, 2""")),

    // Ljung–Box white-noise audit: Q = n(n+2)·Σ_{k=1..7} ρ̂²_k/(n−k)
    // over the daily revenue series per type — "is there ANY serial
    // structure left" in one number, vs agg_autocorr's single lag.
    // The centered series and the seven lag products all live on the
    // day dim (a 7-way band self-join of a ~30-row-per-type table).
    Q("dq_ljung_box",
      (s, d) => {
        val daily = dailyRevenue(s, d)
        val mu = daily.groupBy(col("event_type"))
          .agg(avg(col("rev")).as("mu"))
        val c = daily.join(broadcast(mu), Seq("event_type"))
          .select(col("event_type"), col("day"),
            (col("rev") - col("mu")).as("e"))
        val den = c.groupBy(col("event_type"))
          .agg(sum(col("e") * col("e")).as("s0"),
            count(lit(1)).cast("double").as("n"))
        val ks = s.range(1, 8).toDF("k")
        val c2 = c.select(col("event_type").as("et2"),
          col("day").as("day2"), col("e").as("e2"))
        val lags = c.crossJoin(broadcast(ks))
          .join(c2, col("et2") === col("event_type") &&
            col("day2") === date_add(col("day"), col("k").cast("int")))
          .groupBy(col("event_type"), col("k"))
          .agg(sum(col("e") * col("e2")).as("sk"))
        lags.join(broadcast(den), Seq("event_type"))
          .select(col("event_type"), col("n"), col("k"),
            (col("sk") / col("s0")).as("r"))
          .groupBy(col("event_type"))
          .agg(max(col("n")).cast("long").as("n_days"),
            r6(max(col("n")) * (max(col("n")) + 2) *
              sum(col("r") * col("r") / (col("n") - col("k"))))
              .as("q_stat"))
      },
      Some(s"""WITH $dailyRevenueSql,
              c AS (SELECT d.event_type, d.day, d.rev - m2.mu AS e
                FROM d JOIN (SELECT event_type, avg(rev) AS mu
                  FROM d GROUP BY 1) m2
                  ON m2.event_type = d.event_type),
              den AS (SELECT event_type, sum(e*e) AS s0,
                  CAST(count(*) AS DOUBLE) AS n
                FROM c GROUP BY 1),
              lags AS (SELECT c.event_type, k.k, sum(c.e * c2.e) AS sk
                FROM c JOIN (SELECT unnest(generate_series(1, 7)) AS k) k
                  ON TRUE
                JOIN c c2 ON c2.event_type = c.event_type
                  AND c2.day = c.day + CAST(k.k AS INTEGER)
                GROUP BY 1, 2),
              rho AS (SELECT l.event_type, l.k, l.sk / den.s0 AS r, den.n
                FROM lags l JOIN den ON den.event_type = l.event_type)
              SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
                ${Portable.r6Sql("max(n) * (max(n) + 2) * sum(r * r / (n - k))")}
                  AS q_stat
              FROM rho GROUP BY 1""")),

    // Containment dedup with EXACT recall — the refinement closing
    // dedup_containment's documented gap (MinHash bands key on
    // Jaccard, so a small⊂large pair with skewed sizes can miss every
    // band). Formulation: posting-list intersection counting — group
    // the inverted index by shingle, expand each (df-capped) posting
    // list to its id pairs array-locally, count rows per pair = exact
    // |a∩b|, then one integer division per pair. No per-pair array
    // payloads anywhere: the round-11 prefix-probe + array-attach
    // verify moved candidates × ~2 KB of shingle arrays and died on
    // >75 GB of sort spill at sf10 (29.6M candidates for 25.6k true
    // pairs); counting moves Σ C(df,2) narrow rows instead. See
    // Dedup.containmentPairsExact for the scale contract.
    Q("dedup_containment_prefix",
      // maxPosting = 1000 is THIS BENCHMARK'S explicit argument (the
      // oracle's HAVING count(*) BETWEEN 2 AND 1000 mirrors it); the
      // function default is recall-safe 100000. The registered query
      // runs with failOnCappedShingles = true (VERDICT r15 task 7): the
      // green correctness row is therefore a PROVEN-exact row — if the
      // cap ever binds on the driver corpus the query throws (in-pass
      // raise_error since r19: one shingle pass total, no separate
      // audit job) instead of silently passing an approximate result,
      // and the exactness contract is exercised on the harness path
      // every round, not only in CappedCollectSpec.
      (s, d) => Dedup.containmentPairsExact(
        withPlantedDups(Tables.documents(s, d)),
        col("doc_id"), col("text"), threshold = 0.8, maxPosting = 1000,
        failOnCappedShingles = true),
      Some(s"""WITH $plantedDocsSql,
              base AS (SELECT id,
                  list_distinct([array_to_string(toks[i+1:i+3], ' ')
                     for i in range(0, greatest(len(toks) - 3, 0) + 1)])
                    AS sh
                FROM (SELECT id,
                    string_split_regex(lower(trim(text)), '\\s+') AS toks
                  FROM docs)),
              sizes AS (SELECT id, len(sh) AS n FROM base),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              pe AS (SELECT id, s FROM ex WHERE s IN
                (SELECT s FROM ex GROUP BY s
                 HAVING count(*) BETWEEN 2 AND 1000)),
              ov AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS ov
                FROM pe x JOIN pe y ON x.s = y.s AND x.id < y.id
                GROUP BY 1, 2)
              SELECT id_a, id_b,
                ${Portable.r6Sql("ov * 1.0 / least(a.n, b.n)")} AS containment
              FROM ov JOIN sizes a ON a.id = ov.id_a
              JOIN sizes b ON b.id = ov.id_b
              WHERE least(a.n, b.n) > 0
                AND ov * 1.0 / least(a.n, b.n) >= 0.8""")),

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
      Some(s"""WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d1,
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
              FROM co, tru""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 6:
  // information-theoretic audits, extreme-value fitting, and the
  // model-eval gains table.
  private val round11e = Seq(
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
      Some(s"""WITH c AS (SELECT event_type AS x,
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
              FROM t GROUP BY tot""")),

    // Jensen–Shannon divergence (bits) between two sources' unigram
    // distributions — the symmetric bounded corpus-drift readout
    // (KL's usable sibling: defined even where one side has zero
    // mass). One tokenize pass; the distribution table is vocab-sized.
    Q("text_js_divergence",
      (s, d) => {
        val t = Par.widen(Tables.documents(s, d))
          .filter(col("source").isin("src0", "src1"))
          .select(col("source"), explode(Dedup.tokens(col("text")))
            .as("tok"))
          .filter(col("tok") =!= "")
        val p = t.groupBy(col("tok"))
          .agg(sum(when(col("source") === "src0", 1.0).otherwise(0.0))
              .as("ca"),
            sum(when(col("source") === "src1", 1.0).otherwise(0.0))
              .as("cb"))
        val n = p.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val dd = p.crossJoin(broadcast(n))
          .select((col("ca") / col("na")).as("pa"),
            (col("cb") / col("nb")).as("pb"))
          .withColumn("m", (col("pa") + col("pb")) / 2)
        dd.agg(r6(lit(0.5) *
            sum(when(col("pa") > 0,
              col("pa") * log2(col("pa") / col("m"))).otherwise(0.0)) +
            lit(0.5) *
            sum(when(col("pb") > 0,
              col("pb") * log2(col("pb") / col("m"))).otherwise(0.0)))
            .as("js_divergence_bits"),
          count(lit(1)).as("n_vocab"))
      },
      Some(raw"""WITH toks AS (SELECT source, unnest(string_split_regex(
                    lower(trim(text)), '\s+')) AS tok
                FROM documents WHERE source IN ('src0', 'src1')),
              t AS (SELECT source, tok FROM toks WHERE tok <> ''),
              f AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
                FROM t GROUP BY 1, 2),
              p AS (SELECT tok,
                  coalesce(sum(CASE WHEN source='src0' THEN c END), 0)
                    AS ca,
                  coalesce(sum(CASE WHEN source='src1' THEN c END), 0)
                    AS cb
                FROM f GROUP BY 1),
              n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM p),
              d AS (SELECT p.tok, p.ca / n.na AS pa, p.cb / n.nb AS pb,
                  (p.ca / n.na + p.cb / n.nb) / 2 AS m FROM p, n)
              SELECT ${Portable.r6Sql("0.5 * sum(CASE WHEN pa > 0 THEN pa * log2(pa / m) ELSE 0 END) + 0.5 * sum(CASE WHEN pb > 0 THEN pb * log2(pb / m) ELSE 0 END)")}
                  AS js_divergence_bits,
                CAST(count(*) AS BIGINT) AS n_vocab
              FROM d""")),

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
      Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(max(CAST(floor(value*100+0.5) AS BIGINT)) AS DOUBLE)
                    / 100.0 AS mx
                FROM events GROUP BY 1, 2)
              SELECT event_type, count(*) AS n_days,
                ${Portable.r6Sql("avg(mx) - 0.5772156649015329 * (stddev_samp(mx) * sqrt(6) / pi())")} AS gumbel_mu,
                ${Portable.r6Sql("stddev_samp(mx) * sqrt(6) / pi()")} AS gumbel_beta
              FROM d GROUP BY 1""")),

    // Last-digit uniformity audit: χ² of the final cent digit against
    // uniform — fabricated or unit-rounded measurements cluster on 0/5
    // where Benford's first-digit law can't see them. One 10-cell
    // contingency aggregate.
    Q("dq_last_digit_uniformity",
      (s, d) => {
        val dd = ev(s, d)
          .groupBy((floor(col("value") * 100 + lit(0.5)).cast("long") % 10)
            .as("dig"))
          .agg(count(lit(1)).cast("double").as("n"))
        val t = dd.select(col("n"),
          (sum(col("n")).over(Window.partitionBy()) / 10.0).as("e"))
        t.groupBy(col("e"))
          .agg(sum(col("n")).cast("long").as("n"),
            count(lit(1)).as("n_digits"),
            r6(sum(pow(col("n") - col("e"), 2) / col("e")))
              .as("chi2"))
          .select(col("n"), col("n_digits"), col("chi2"))
      },
      Some(s"""WITH d AS (SELECT
                  CAST(floor(value*100+0.5) AS BIGINT) % 10 AS dig,
                  count(*) AS n FROM events GROUP BY 1),
              t AS (SELECT dig, CAST(n AS DOUBLE) AS n,
                  sum(n) OVER () / 10.0 AS e FROM d)
              SELECT CAST(sum(n) AS BIGINT) AS n,
                count(*) AS n_digits,
                ${Portable.r6Sql("sum(pow(n - e, 2) / e)")} AS chi2
              FROM t GROUP BY e""")),

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
      Some(s"""WITH $hashedLabelsSql,
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
              FROM c""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 7:
  // k-sample nonparametrics, corpus novelty, rank fusion, inequality,
  // and survey-sampling allocation.
  private val round11f = Seq(
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
      Some(s"""WITH r AS (SELECT event_type,
                  rank() OVER (ORDER BY value) +
                    (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS ar
                FROM events),
              g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nj,
                  sum(ar) AS rj
                FROM r GROUP BY 1),
              t AS (SELECT sum(nj) AS n FROM g)
              SELECT CAST(t.n AS BIGINT) AS n, count(*) AS k,
                ${Portable.r6Sql("12.0 / (t.n * (t.n + 1)) * sum(rj * rj / nj) - 3 * (t.n + 1)")} AS h_stat
              FROM g, t GROUP BY t.n""")),

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
      Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM g, dims GROUP BY dims.n, dims.k""")),

    // Shingle novelty per document: the share of a doc's 3-shingles
    // whose FIRST corpus occurrence (min doc id) is this doc — the
    // marginal-contribution curve that tells a curation pipeline when
    // additional data stops adding content. First-occurrence is one
    // keyed min over the exploded shingles. Per shingle EXACTLY ONE
    // doc is novel (the min), so n_novel is a doc-keyed count over the
    // shingle-type-sized first-occurrence table and n_shingles is just
    // size(sh) — no corpus-sized join-back of the exploded shingles
    // (the former ex⋈fo + second corpus shuffle formulation; output
    // bit-identical, dump-compared).
    Q("text_ngram_novelty",
      (s, d) => {
        val base = persist(Par.widen(Tables.documents(s, d))
          .select(col("doc_id").as("id"),
            Dedup.shinglesNative(col("text"), 3).as("sh")))
        val novel = base.select(col("id"), explode(col("sh")).as("s"))
          .groupBy(col("s")).agg(min(col("id")).as("first_id"))
          .groupBy(col("first_id").as("id"))
          .agg(count(lit(1)).as("n_novel"))
        base.filter(size(col("sh")) > 0)
          .select(col("id"), size(col("sh")).cast("long").as("n_shingles"))
          .join(novel, Seq("id"), "left")
          .select(col("id").as("doc_id"), col("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"),
            r6(coalesce(col("n_novel"), lit(0L))
              / col("n_shingles").cast("double")).as("novelty"))
      },
      Some(raw"""WITH base AS (SELECT doc_id AS id,
                  list_distinct([array_to_string(toks[i+1:i+3], ' ')
                     for i in range(0, greatest(len(toks) - 3, 0) + 1)])
                    AS sh
                FROM (SELECT doc_id,
                    string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM documents)),
              ex AS (SELECT id, unnest(sh) AS s FROM base),
              fo AS (SELECT s, min(id) AS first_id FROM ex GROUP BY 1)
              SELECT ex.id AS doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN fo.first_id = ex.id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                ${Portable.r6Sql("sum(CASE WHEN fo.first_id = ex.id THEN 1 ELSE 0 END) * 1.0 / count(*)")} AS novelty
              FROM ex JOIN fo ON fo.s = ex.s GROUP BY 1""")),

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
      Some(s"""WITH r AS (SELECT event_id, event_type,
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
              FROM k WHERE rk <= 10""")),

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
      Some(s"""WITH u AS (SELECT event_type, user_id,
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
              WHERE u.x > 0 GROUP BY 1, 2""")),

    // Neyman allocation for a 1000-row stratified sample: per stratum
    // n_h ∝ N_h·S_h — minimal-variance sampling design, vs the
    // proportional allocation sample_stratified uses. The allocation
    // table is stratum-sized; the draw itself is the existing
    // md5-deterministic machinery.
    Q("sample_neyman_alloc",
      (s, d) => {
        val st = ev(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).cast("double").as("nh"),
            stddev_samp(col("value")).as("sh"))
        val t = st.agg(sum(col("nh") * col("sh")).as("tot"))
        st.crossJoin(broadcast(t))
          .select(col("event_type"),
            col("nh").cast("long").as("stratum_size"),
            r6(col("sh")).as("stratum_std"),
            floor(lit(1000) * col("nh") * col("sh") / col("tot"))
              .cast("long").as("neyman_n"))
      },
      Some(s"""WITH s AS (SELECT event_type,
                  CAST(count(*) AS DOUBLE) AS nh,
                  stddev_samp(value) AS sh FROM events GROUP BY 1),
              t AS (SELECT sum(nh * sh) AS tot FROM s)
              SELECT event_type, CAST(nh AS BIGINT) AS stratum_size,
                ${Portable.r6Sql("sh")} AS stratum_std,
                CAST(floor(1000 * nh * sh / t.tot) AS BIGINT) AS neyman_n
              FROM s, t""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 8:
  // indicator-family completion (stochastic, ATR), heavy-tail fitting,
  // inter-rater agreement, and tournament ranking.
  private val round11g = Seq(
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
      Some(s"""WITH $dailyHlcSql,
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
              FROM pk""")),

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
      Some(s"""WITH $dailyHlcSql,
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
              FROM tr""")),

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
      Some(s"""WITH u AS (SELECT event_type, user_id,
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
              WHERE r.rk <= 50 GROUP BY 1""")),

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
      Some(s"""WITH t AS (SELECT
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
              FROM c""")),

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
      Some(s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM s GROUP BY 1""")),
  )

  // ------------------------------------------- §2.32 round-11 batch 9:
  // graph-family completion, temporal burstiness, and candle pivots.
  private val round11h = Seq(
    // Global clustering coefficient 3T/W over the co-order part graph
    // (same support-thresholded edges as graph_triangles) — the
    // one-number "is this graph clumpy or random" readout. Wedge count
    // is a degree aggregate; the triangle count reuses the
    // degree-oriented wedge join.
    Q("graph_clustering_coeff",
      (s, d) => {
        val edges = Graph.coOrderEdges(Tables.lineitem(s, d))
        // lazy localCheckpoint — same rationale as graph_triangles
        // (r19): clusteringCoefficient references the edge relation
        // ~11x (degrees, orientation x3 consumers, nEdges, wedge sum);
        // the checkpoint collapses the replicated self-join subtree to
        // one RDD leaf. See graph_triangles for the persist-vs-
        // checkpoint history.
        Graph.clusteringCoefficient(edges.localCheckpoint(false))
      },
      Some(s"""WITH $coOrderEdgesSql,
              deg AS (SELECT n, count(*) AS d FROM (
                  SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1),
              wedges AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg),
              wd AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b),
              tri AS (SELECT count(*) AS t FROM wd
                JOIN e ON e.a = wd.y AND e.b = wd.z)
              SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
                CAST(wedges.w AS BIGINT) AS n_wedges,
                CAST(tri.t AS BIGINT) AS n_triangles,
                ${Portable.r6Sql("3.0 * tri.t / wedges.w")} AS clustering_coeff
              FROM wedges, tri""")),

    // Degree histogram of the same graph — the first thing anyone
    // plots before trusting any graph statistic (and the input to a
    // power-law eyeball). Two keyed aggregates.
    Q("graph_degree_histogram",
      (s, d) => Graph.coOrderEdges(Tables.lineitem(s, d))
        .select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")),
      Some(s"""WITH $coOrderEdgesSql,
              deg AS (SELECT n, count(*) AS degree FROM (
                  SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1)
              SELECT degree, count(*) AS n_nodes
              FROM deg GROUP BY 1""")),

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
      Some(s"""WITH g AS (SELECT user_id,
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
              FROM m""")),

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
      Some(s"""WITH $dailyHlcSql,
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
              FROM prev WHERE ph IS NOT NULL""")),
  )

  // ------------------------------------------ §2.32 round-11 batch 10:
  // signed-volume accumulation, factorial variance decomposition, and
  // the range channel.
  private val round11i = Seq(
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
      Some("""WITH k AS (SELECT event_type, CAST(ts AS DATE) AS day,
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
              FROM s""")),

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
      Some(s"""WITH s AS (SELECT
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
              FROM ssa, ssb, sscell, sstot""")),

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
      Some(s"""WITH $dailyHlcSql
              SELECT event_type, day,
                max(h) OVER fr AS channel_high,
                min(l) OVER fr AS channel_low,
                floor((max(h) OVER fr + min(l) OVER fr) / 2
                  * 1000000 + 0.5) / 1000000 AS channel_mid
              FROM daily WINDOW fr AS (PARTITION BY event_type
                ORDER BY day
                ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""")),
  )

  // ------------------------------------------ §2.32 round-11 batch 11:
  // the binary-file ingest path (the real multimodal scan).
  private val round11j = Seq(
    // Raw binary ingest through Spark's `binaryFile` source — the
    // format every image/audio/video pipeline actually starts from
    // (one row per file: path, length, content bytes). Roundtrip
    // shape like sink_csv_roundtrip: deterministic ASCII payloads are
    // written per bucket (text sink appends one \n per row — part of
    // the byte contract below), read back as whole binary files, and
    // reduced to (bucket, byte length, md5-of-bytes) — which the
    // oracle recomputes from the source table alone, so the file
    // plumbing is what's actually under test. At 100 TB this is the
    // object-store scan that feeds mm_decode; binaryFile parallelizes
    // per file and never splits one.
    Q("scan_binary_files",
      (s, d) => {
        val tmp = Scratch.dir("graft_binfiles")
        Par.widen(Tables.documents(s, d))
          .groupBy((col("doc_id") % 8).as("b"))
          .agg(concat_ws("\n", sort_array(collect_list(col("text"))))
            .as("value"))
          .repartition(8, col("b"))
          .write.mode("overwrite").partitionBy("b").text(tmp)
        s.read.format("binaryFile").load(s"$tmp/b=*")
          .select(
            regexp_extract(col("path"), "b=(\\d+)", 1).cast("long")
              .as("bucket"),
            col("length").as("n_bytes"),
            md5(col("content")).as("content_md5"))
      },
      Some("""WITH p AS (SELECT doc_id % 8 AS b,
                  string_agg(text, chr(10) ORDER BY text) AS payload
                FROM documents GROUP BY 1)
              SELECT b AS bucket,
                CAST(length(payload) + 1 AS BIGINT) AS n_bytes,
                md5(payload || chr(10)) AS content_md5
              FROM p""")),
  )

  // ----------------------------------------------------------------
  private val all: Seq[Q] =
    scans ++ sources ++ filters ++ joins ++ aggs ++ windows ++ sorts ++
      sets ++ scalars ++ scalars2 ++ dq ++ streaming ++ llm ++ widening ++
      curation ++ extras ++ hyper ++ analytics ++ hyper2 ++ hyper3 ++
      round9 ++ round10 ++ round10b ++ round10c ++ round10d ++ round10e ++
      round10f ++ round10g ++ round10h ++ round10i ++ round10j ++ round11 ++
      round11b ++ round11b2 ++ round11c ++ round11d ++ round11e ++
      round11f ++ round11g ++ round11h ++ round11i ++ round11j

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. A condensed
    * §3.2 feature-pipeline spine: filter → join → window lag/rolling →
    * grouped aggregation.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val o = Tables.orders(spark, d)
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    li.join(o.select(col("l_orderkey"), col("o_totalprice")),
        Seq("l_orderkey"), "left")
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"), avg(col("prev_qty")).as("avg_prev_qty"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.key -> q.fn).toMap

  /** `queries` in declaration order. The Map above hashes its keys, so
    * its iteration order is arbitrary AND changes whenever a key is
    * added — a benchmark that iterates it runs the suite in a different
    * order every round, which makes per-query times incomparable across
    * rounds (JVM age, GC pressure, and codegen-cache state at query N
    * depend on everything that ran before it). Bench iterates this. */
  def orderedQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    all.map(q => q.key -> q.fn)

  def oracleSql: Map[String, String] =
    all.collect { case Q(k, _, Some(sql)) =>
      k -> sql.replaceAll("\\s+", " ").trim
    }.toMap
}
