package graft
package queries

import org.apache.spark.sql.functions._

import graft.streaming.HourlyRollup
import graft.functions.Portable
import graft.functions.Portable.r6
import Shared._

/** Structured Streaming keys (`stream_*`). */
private[graft] object StreamQueries {

  val queries: Seq[Q] = Seq(
    Q("stream_hourly_rollup",
      // integer-cents measure — see agg_time_bucket
      (s, d) => rollupFromCents(HourlyRollup.runToCompletion(s, d,
          measure = floor(col("value") * 100 + lit(0.5)))),
      hourlyRollupSql),

    Q("stream_dedup_state",
      (s, d) => graft.streaming.DedupStream.runToCompletion(s, d),
      "SELECT event_id, event_type, value FROM events"),

    // stateful streaming funnel: two-scalar per-user state advanced by
    // the same strictly-after rule as agg_funnel — the oracle IS the
    // batch funnel histogram, so streaming ≡ batch is the verified
    // contract (the stream_sessionize pattern)
    Q("stream_funnel_state",
      (s, d) => graft.streaming.FunnelStream.runToCompletion(s, d,
        Seq("view", "click", "purchase")),
      funnelStagesSql),

    // win_sessionize's stateful-streaming twin: flatMapGroupsWithState
    // custom state per user; must equal the batch window formulation
    Q("stream_sessionize",
      (s, d) => graft.streaming.SessionizeStream.runToCompletion(s, d)
        .select(col("event_id"), col("user_id"), col("session_id")),
      sessionizeSql),

    // watermarked stream-stream interval join (state bounded by
    // watermark + join window) — checked against the equivalent batch
    // interval join
    Q("stream_join_enrich",
      (s, d) => graft.streaming.JoinStream.runToCompletion(s, d),
      s"""WITH e AS (SELECT event_id, user_id, event_type,
                       CAST(ts AS TIMESTAMP) AS ts, value FROM events)
              SELECT c.event_id AS click_id, v.event_id AS view_id,
                ${Portable.r6Sql("v.value")} AS view_value
              FROM e c JOIN e v ON c.user_id = v.user_id
                AND c.event_type = 'click' AND v.event_type = 'view'
                AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts"""),

    // sliding-window streaming rollup: overlapping 6 h windows sliding
    // 1 h — each event fans out to six windows before the stateful
    // shuffle; integer-cents measure keeps the cross-engine sum exact
    Q("stream_sliding_rollup",
      (s, d) => HourlyRollup.runSlidingToCompletion(s, d,
          measure = floor(col("value") * 100 + lit(0.5)))
        .select(col("bucket"), col("event_type"),
          r6(col("sum_v") / 100).as("sum_v"), col("n")),
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
                       floor(value * 100 + 0.5) AS vc FROM events),
              w AS (SELECT event_type, vc,
                      unnest(generate_series(
                        date_trunc('hour', ts) - INTERVAL 5 HOUR,
                        date_trunc('hour', ts), INTERVAL 1 HOUR)) AS bucket
                    FROM e)
              SELECT bucket, event_type, ${Portable.r6Sql("sum(vc) / 100")} AS sum_v,
                count(*) AS n
              FROM w GROUP BY 1, 2"""),

    // streaming twin of agg_state_durations: per-user (state, since)
    // scalars; each event closes and emits the previous dwell interval,
    // the open last interval is never emitted — summing the closed
    // dwells must equal the batch lead-based accounting
    Q("stream_state_durations",
      (s, d) => graft.streaming.StateDurationStream.runToCompletion(s, d),
      stateDurationsSql),

    // stateful streaming threshold-crossing alerts (edge detection, one
    // scalar of state per user) — must equal the batch lag formulation
    Q("stream_rate_alert",
      (s, d) => graft.streaming.RateAlertStream
        .runToCompletion(s, d, threshold = 90.0),
      """WITH t AS (SELECT event_id, user_id, value,
                      lag(value) OVER (PARTITION BY user_id
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pv
                    FROM events)
              SELECT event_id, user_id FROM t
              WHERE pv < 90 AND value >= 90"""),

    // streaming interval union: closed islands emitted as the open
    // island advances — three scalars of state per user; equals the
    // batch island list minus each user's final (still-open) island
    Q("stream_interval_union",
      (s, d) => graft.streaming.IntervalUnionStream
        .runToCompletion(s, d, widthSeconds = 900L),
      s"""WITH iv AS (SELECT user_id, event_id,
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
              WHERE i.island < mx.mi"""),

    // streaming twin of win_cusum: the recursion S⁺ = max(0, S⁺ + dev)
    // carried as ONE long of per-series state, reference levels via a
    // stream-static broadcast join — must equal the batch closed form,
    // so it shares win_cusum's oracle
    Q("stream_cusum",
      (s, d) => graft.streaming.CusumStream.runToCompletion(s, d),
      cusumOracleSql),

    // streaming top-3 event types per hour: counts maintained by the
    // streaming aggregate (state = one row per window×dim), ranking
    // applied on the rollup-sized output outside the stream.
    Q("stream_topk_types",
      (s, d) => graft.streaming.TopKStream.runToCompletion(s, d, k = 3),
      """WITH c AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
                        AS bucket,
                      event_type, count(*) AS n
                    FROM events GROUP BY 1, 2),
              r AS (SELECT bucket, event_type, n,
                      row_number() OVER (PARTITION BY bucket
                        ORDER BY n DESC, event_type) AS rk
                    FROM c)
              SELECT bucket, event_type, n, CAST(rk AS INTEGER) AS rk
              FROM r WHERE rk <= 3"""),

    // streaming OHLC candles — the live twin of agg_ohlc: open/close as
    // struct min/max over the zero-padded order key (declarative
    // aggregates the stream maintains incrementally), integer cents.
    Q("stream_ohlc",
      (s, d) => graft.streaming.OhlcStream.runToCompletion(s, d,
        measure = floor(col("value") * 100 + lit(0.5))),
      """WITH src AS (SELECT event_type,
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
              FROM src GROUP BY 1, 2"""),

    // Streaming log2-histogram (streaming/HistogramStream) — the
    // mergeable sketch as streaming state: one (hour, bucket) row per
    // hour and power-of-two band, maintained by plain incremental
    // count/min/max. Oracle is the batch histogram per hour.
    Q("stream_histogram",
      (s, d) => graft.streaming.HistogramStream.runToCompletion(s, d),
      """WITH src AS (SELECT
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                    CAST(round(value * 100, 0) AS BIGINT) AS c
                  FROM events)
              SELECT hour,
                CASE WHEN c <= 0 THEN 0
                  ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
                count(*) AS n, min(c) AS lo, max(c) AS hi
              FROM src GROUP BY 1, 2"""),

    // Streaming changelog compaction (streaming/CdcStateStream): the
    // current-snapshot-per-key state a CDC consumer serves lookups
    // from, as one incremental struct-max. Oracle = the batch
    // compaction over the full log.
    Q("stream_cdc_state",
      (s, d) => graft.streaming.CdcStateStream.runToCompletion(s, d),
      """WITH src AS (SELECT user_id, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS bal,
                  concat(lpad(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      AS VARCHAR), 20, '0'),
                    lpad(CAST(event_id AS VARCHAR), 20, '0')) AS k
                FROM events)
              SELECT user_id, arg_max(event_type, k) AS last_type,
                arg_max(bal, k) AS bal_c, count(*) AS n_changes
              FROM src GROUP BY user_id"""),

    // Streaming with a REAL sink (streaming/FileSinkStream): first-
    // sight dedup written to a parquet ledger through the exactly-once
    // checkpoint/commit-log path, read back as the result — the
    // deployment shape the memory-sink harness entries stand in for
    // (r9 verdict's standing caveat). Restart resumption is proven by
    // the two-phase spec; here the oracle pins the ledger ≡ batch
    // DISTINCT.
    Q("stream_sink_files",
      (s, d) => graft.streaming.FileSinkStream.dedupLedger(s, d),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // Streaming A/B monitor (streaming/AbMonitorStream) — the live twin
    // of agg_welch_ttest: two rows of per-arm moment state (n, Σ, Σ²
    // over integer cents — exact sums, so micro-batch arrival order
    // cannot perturb the result), Welch t/df derived from the final
    // state. Oracle replays the identical cents formulas in batch.
    Q("stream_ab_monitor",
      (s, d) => graft.streaming.AbMonitorStream.runToCompletion(s, d),
      s"""WITH g AS (SELECT
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
              FROM f"""),

    // Streaming twin of the activity bitmap's per-user stage: ONE long
    // of bit_or state per user — OR is commutative, associative, AND
    // idempotent, so stream state ≡ batch aggregate under any arrival
    // order or replay (the strongest merge guarantee in the streaming
    // family; the spec asserts stream ≡ batch).
    Q("stream_bitmap_state",
      (s, d) => graft.streaming.BitmapStream.runToCompletion(s, d),
      """SELECT user_id,
                bit_or(CAST(1 AS BIGINT) << hour(CAST(ts AS TIMESTAMP)))
                  AS mask
              FROM events GROUP BY 1"""),
  )
}
