package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions.Portable
import graft.functions.Portable.r6
import Shared._

/** Data-quality audit keys (`dq_*`). */
private[graft] object QualityQueries {

  val queries: Seq[Q] = Seq(
    Q("dq_no_nulls",
      (s, d) => Quality.nullCounts(ev(s, d), Seq("ts", "event_type", "value")),
      """SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE ts IS NULL) AS nulls_ts,
                count(*) FILTER (WHERE event_type IS NULL) AS nulls_event_type,
                count(*) FILTER (WHERE value IS NULL) AS nulls_value
              FROM events"""),

    Q("dq_ascending",
      (s, d) => Quality.descendingCount(ev(s, d), col("ts"),
        Seq(col("event_id")),
        floor(col("event_id") / lit(1000))),
      """SELECT count(*) AS n_violations
              FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) AS p
                    FROM events)
              WHERE p > ts"""),

    Q("dq_freshness",
      (s, d) => Quality.freshness(ev(s, d), col("ts"),
        lit("2024-02-05 00:00:00").cast("timestamp_ntz")),
      """SELECT CAST(max(ts) AS TIMESTAMP) AS max_ts,
                CASE WHEN max(ts) IS NULL
                  OR max(ts) < TIMESTAMP '2024-02-05 00:00:00'
                  THEN 1 ELSE 0 END AS stale
              FROM events"""),

    Q("dq_leakage",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val forbidden = Set("l_extendedprice", "net_load_kwh", "export_ts")
        Quality.leakageViolations(
          Tables.lineitem(s, d).columns.toSeq, forbidden).toDF("leaked_col")
      },
      "SELECT 'l_extendedprice' AS leaked_col"),

    Q("dq_required_keys",
      (s, d) => ev(s, d).agg(count(lit(1)).as("n_rows"),
        count(when(col("ts").isNull, lit(1))).as("n_missing_key")),
      """SELECT count(*) AS n_rows,
                count(*) FILTER (WHERE ts IS NULL) AS n_missing_key
              FROM events"""),

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
      """SELECT * FROM (VALUES
                ('o_missing_col', 'missing'),
                ('o_orderdate', 'unexpected'),
                ('o_orderpriority', 'unexpected'),
                ('o_orderstatus', 'type_mismatch:string'),
                ('o_totalprice', 'unexpected')) t(col_name, kind)"""),

    // one-pass column profiling (pipeline monitoring snapshot): all
    // stats for all profiled columns from a single aggregate, unpivoted
    // on the 1-row result
    Q("dq_profile",
      (s, d) => Quality.profile(ev(s, d), Seq("value", "user_id")),
      """SELECT 'value' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
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
              FROM events"""),

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
      s"""WITH train0 AS (
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
              FROM tr LEFT JOIN shared USING (doc_id)"""),

    // heartbeat liveness per (event_type, day): every event keeps the
    // stream "live" for 600 s; uptime is the clipped union of those
    // intervals over the day (TimescaleDB heartbeat_agg)
    Q("dq_heartbeat_uptime",
      (s, d) => TimeSeries.heartbeatUptime(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), threshSeconds = 600.0),
      s"""WITH p AS (SELECT event_type, CAST(ts AS DATE) AS day, ts,
                       lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                         ORDER BY ts, event_id) AS nxt
                     FROM events)
              SELECT event_type AS series, day, count(*) AS n_beats,
                ${Portable.r6Sql(
                  "sum(CASE WHEN nxt IS NULL THEN least(600.0, (epoch_us(day + INTERVAL 1 DAY) " +
                    "- epoch_us(ts)) / 1e6) ELSE least(600.0, (epoch_us(nxt) - epoch_us(ts)) / " +
                    "1e6) END) / 86400.0")} AS uptime_frac
              FROM p GROUP BY 1, 2"""),

    // per-group z-score outlier flags from explicit moment sums,
    // broadcast back onto the fact side (μ/σ formulas spelled out so
    // both engines run identical arithmetic)
    Q("dq_anomaly_zscore",
      (s, d) => Quality.anomalyZscore(ev(s, d), col("event_type"),
        Seq(col("event_id"), col("event_type"), col("value")),
        col("value"), threshold = 2.5),
      s"""WITH s AS (SELECT event_type, sum(value) AS sv,
                       sum(value * value) AS sq, count(*) AS n
                     FROM events GROUP BY 1),
              z AS (SELECT e.event_id, e.event_type, e.value,
                      (e.value - s.sv / s.n)
                        / sqrt(s.sq / s.n - (s.sv / s.n) * (s.sv / s.n)) AS z
                    FROM events e JOIN s USING (event_type))
              SELECT event_id, event_type, value, ${Portable.r6Sql("z")} AS z,
                CAST(abs(z) > 2.5 AS INTEGER) AS is_anomaly
              FROM z"""),

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
      """SELECT 'lineitem_orders' AS relationship, count(*) AS n_orphans
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
                (SELECT 1 FROM part WHERE p_partkey = l_partkey)"""),

    // Benford leading-digit audit on the price measure: 9-group hash agg
    // + broadcast total; digit extraction is floor/log10 arithmetic —
    // no string formatting (engine-dependent), no UDF
    Q("dq_benford",
      (s, d) => Quality.benfordDigits(Tables.lineitem(s, d),
        col("l_extendedprice")),
      s"""WITH pos AS (SELECT l_extendedprice AS v FROM lineitem
                     WHERE l_extendedprice > 0),
              c AS (SELECT CAST(floor(v / power(10, floor(log10(v))))
                      AS INTEGER) AS digit, count(*) AS n
                    FROM pos GROUP BY 1),
              t AS (SELECT count(*) AS tot FROM pos)
              SELECT digit, n, ${Portable.r6Sql("n / tot")} AS observed_freq,
                     ${Portable.r6Sql("log10(1.0 + 1.0 / digit)")} AS expected_freq,
                     ${Portable.r6Sql("abs(n / tot - log10(1.0 + 1.0 / digit))")}
                       AS abs_dev
              FROM c, t"""),

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
      """WITH dcnt AS (SELECT CAST(ts AS DATE) AS day,
                      count(*) AS n FROM events GROUP BY 1)
              SELECT day, CAST(n AS BIGINT) AS n,
                CAST(n - lag(n) OVER (ORDER BY day) AS BIGINT) AS delta,
                CAST(abs(n - lag(n) OVER (ORDER BY day))
                  > lag(n) OVER (ORDER BY day) * 0.5 AS INTEGER)
                  AS drift_flag
              FROM dcnt"""),

    // missing-data gap listing per series (the outage twin of
    // dq_heartbeat_uptime): intervals between consecutive points longer
    // than 15 minutes
    Q("dq_gap_detect",
      (s, d) => TimeSeries.gapDetect(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), thresholdSeconds = 900,
        seriesName = "event_type"),
      s"""WITH t AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
                      lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type
                        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nxt
                    FROM events)
              SELECT event_type, ts2 AS gap_start, nxt AS gap_end,
                ${Portable.r6Sql("CAST(epoch_us(nxt - ts2) AS DOUBLE) / 1e6")}
                  AS gap_secs
              FROM t WHERE nxt IS NOT NULL
                AND epoch_us(nxt - ts2) > CAST(900 AS BIGINT) * 1000000"""),

    // downtime attributed per calendar day: dq_gap_detect's gaps split
    // across the days they overlap with exact µs clipping — a gap over
    // midnight books seconds on both days
    Q("dq_gap_by_day",
      (s, d) => TimeSeries.gapDowntimeByDay(ev(s, d), col("event_type"),
        col("ts"), col("event_id"), thresholdSeconds = 900,
        seriesName = "event_type"),
      s"""WITH t AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
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
              FROM x GROUP BY 1, 2"""),

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
      """WITH aug AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       event_type FROM events
                    UNION ALL
                    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events WHERE event_id % 97 = 0)
              SELECT user_id, ts, event_type, count(*) AS n
              FROM aug GROUP BY 1, 2, 3 HAVING count(*) > 1"""),

    // PSI drift gate between the month's first-half (ref) and
    // second-half (live) value distributions per event type
    Q("dq_distribution_drift",
      (s, d) => Quality.psiDrift(
        ev(s, d).withColumn("cohort",
          when(col("ts") < lit("2024-01-16").cast("timestamp_ntz"), "ref")
            .otherwise("live")),
        col("event_type"), col("cohort"), col("value"),
        bins = 10, threshold = 0.2),
      s"""WITH src AS (SELECT event_type AS g,
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
              FROM p"""),

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
      s"""WITH a AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts2,
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
              FROM a GROUP BY 1"""),

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
      s"""WITH pos AS (SELECT unnest(generate_series(1, 64)) AS j),
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
                AND a.cohort = 0 AND b.cohort = 1"""),

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
      """SELECT event_type,
                CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                  AS hod,
                CAST(floor(value / 100) AS BIGINT) AS band,
                count(*) AS n_rows,
                count(DISTINCT user_id) AS n_users
              FROM events GROUP BY 1, 2, 3
              HAVING count(DISTINCT user_id) < 5"""),

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
      """SELECT
                CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER)
                  AS hod,
                CAST(floor(value / 100) AS BIGINT) AS band,
                count(*) AS n_rows,
                count(DISTINCT event_type) AS l
              FROM events GROUP BY 1, 2
              HAVING count(DISTINCT event_type) < 3"""),

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
      s"""WITH counts AS (SELECT
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
              HAVING ${Portable.r6Sql("(sum(abs(c / n_cell - p_g)) + (1.0 - sum(p_g))) / 2")} > 0.25"""),

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
      s"""WITH s AS (SELECT value,
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
              FROM c, n GROUP BY n.n1, n.n2"""),

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
      s"""WITH b AS (SELECT event_type, min(value) AS lo,
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
              GROUP BY 1"""),

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
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
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
              FROM agg"""),

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
      s"""WITH $dailyRevenueSql,
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
              FROM rho GROUP BY 1"""),

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
      s"""WITH d AS (SELECT
                  CAST(floor(value*100+0.5) AS BIGINT) % 10 AS dig,
                  count(*) AS n FROM events GROUP BY 1),
              t AS (SELECT dig, CAST(n AS DOUBLE) AS n,
                  sum(n) OVER () / 10.0 AS e FROM d)
              SELECT CAST(sum(n) AS BIGINT) AS n,
                count(*) AS n_digits,
                ${Portable.r6Sql("sum(pow(n - e, 2) / e)")} AS chi2
              FROM t GROUP BY e"""),
  )
}
