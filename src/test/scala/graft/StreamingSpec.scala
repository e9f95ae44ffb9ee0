package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.SessionizeStream

/** Streaming operators beyond what the query oracles already pin:
  * the SessionizeStream hot-key memory contract (one user's whole
  * micro-batch buffers for the in-batch sort — per-batch only, state
  * stays two longs).
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("sessionize stream survives a 100k-event single-user batch " +
    "and matches the batch window formulation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_hotkey").toString
    val gapUs = 30L * 60 * 1000000
    // one user, 100k events: mostly 1s apart, a session break every
    // 10_000 events (gap of 31 minutes) -> 10 sessions
    val base = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC in µs
    spark.range(100000).select(
        col("id").as("event_id"),
        // nanosecond longs, matching the raw events schema
        ((lit(base) + col("id") * 1000000L +
          (col("id") / 10000).cast("long") * (gapUs + 60000000L)) * 1000L)
          .as("ts"),
        lit(7L).as("user_id"),
        lit("click").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = SessionizeStream.runToCompletion(spark, tmp)
    assert(got.count() == 100000L)
    assert(got.select(max("session_id")).first().getLong(0) == 10L)
    // row-for-row equal to the batch formulation (win_sessionize shape)
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val batch = spark.read.parquet(s"$tmp/events.parquet")
      .select($"event_id", $"user_id", expr("ts div 1000").as("ts_us"))
      .withColumn("gap", $"ts_us" - lag($"ts_us", 1).over(w))
      .withColumn("session_id",
        sum(when($"gap".isNull || $"gap" > 30L * 60 * 1000000, 1)
          .otherwise(0)).over(w))
      .select($"event_id", $"user_id", $"session_id")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("stateful streaming funnel equals the batch funnel histogram") {
    val got = graft.streaming.FunnelStream.runToCompletion(spark, sf(),
      Seq("view", "click", "purchase"))
    val batch = graft.ops.EventAnalytics.funnelStages(
      Tables.events(spark, sf()), col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "purchase"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("sliding streaming rollup equals the batch sliding-window agg") {
    val got = graft.streaming.HourlyRollup
      .runSlidingToCompletion(spark, sf())
      .select(col("bucket"), col("event_type"),
        round(col("sum_v"), 6).as("sum_v"), col("n"))
    val batch = Tables.events(spark, sf())
      .groupBy(window(col("ts"), "6 hours", "1 hour").getField("start")
          .cast("timestamp_ntz").as("bucket"),
        col("event_type"))
      .agg(round(sum(col("value")), 6).as("sum_v"),
        count(col("value")).as("n"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("streaming state durations equal the batch lead-based accounting") {
    val got = graft.streaming.StateDurationStream.runToCompletion(spark, sf())
    val batch = graft.ops.TimeSeries.stateDurations(
      Tables.events(spark, sf()), col("user_id"), col("event_type"),
      col("ts"), col("event_id"), keyName = "user_id")
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("streaming rate alerts equal the batch lag-crossing formulation") {
    val got = graft.streaming.RateAlertStream
      .runToCompletion(spark, sf(), threshold = 90.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Tables.events(spark, sf())
      .withColumn("__pv", lag(col("value"), 1).over(w))
      .filter(col("__pv") < 90.0 && col("value") >= 90.0)
      .select(col("event_id"), col("user_id"))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    // edge not level: a value parked at/above threshold alerts once —
    // planted fixture: below, above, above → exactly one alert
    assert(batch.count() > 0)
  }

  test("streaming cusum equals the batch closed-form statistic") {
    val got = graft.streaming.CusumStream.runToCompletion(spark, sf())
    val batch = graft.ops.TimeSeries.cusum(
      Tables.events(spark, sf())
        .withColumn("__vc", round(col("value") * 100, 0).cast("long")),
      col("event_type"), col("ts"), col("event_id"), col("__vc"))
      .select(col("event_id"), col("cusum_pos"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("tumbling streaming rollup equals the batch hourly group-by") {
    // integer cents: sums of integer-valued doubles are exact in any
    // order, so avg compares bit-for-bit without rounding
    val cents = floor(col("value") * 100 + lit(0.5))
    val got = graft.streaming.HourlyRollup
      .runToCompletion(spark, sf(), measure = cents)
    val batch = Tables.events(spark, sf())
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz")
          .as("bucket"),
        col("event_type"))
      .agg(avg(cents).as("avg_v"), min(cents).as("min_v"),
        max(cents).as("max_v"), count(cents).as("n"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("streaming dedup keeps exactly one row per event_id") {
    val got = graft.streaming.DedupStream.runToCompletion(spark, sf())
    val ids = Tables.events(spark, sf()).select(col("event_id")).distinct()
    assert(got.count() == got.select(col("event_id")).distinct().count())
    val gotIds = got.select(col("event_id"))
    assert(gotIds.exceptAll(ids).isEmpty && ids.exceptAll(gotIds).isEmpty)
  }

  test("streaming click-view join equals the batch 30-minute interval join") {
    val got = graft.streaming.JoinStream.runToCompletion(spark, sf())
    val e = Tables.events(spark, sf())
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"), col("value"))
    val batch = clicks.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("v_ts") <= col("c_ts"))
      .select(col("click_id"), col("view_id"),
        graft.functions.Portable.r6(col("value")).as("view_value"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("streaming interval union equals batch islands minus the open one") {
    val got = graft.streaming.IntervalUnionStream
      .runToCompletion(spark, sf(), widthSeconds = 900L)
    val islands = graft.ops.Intervals.coalesceIntervals(
      Tables.events(spark, sf()), col("user_id"), col("ts"),
      col("ts") + expr("INTERVAL 15 MINUTES"), keyName = "user_id")
    // each user's LAST island is still open in the stream — drop it
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    val batch = islands
      .withColumn("__mx", max(col("island_start")).over(w))
      .filter(col("island_start") < col("__mx"))
      .drop("__mx")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
  }

  test("stateParts is a clamped scale law, not a step function (r19): " +
      "floor 4, grows with input bytes, capped at cores") {
    import graft.streaming.EventsStream.statePartsFor
    val MiB = 1024L * 1024
    val target = 128 * MiB
    // floor: tiny inputs stay at the harness-measured optimum of 4
    assert(statePartsFor(2 * MiB, target, 32) == 4)
    assert(statePartsFor(0L, target, 32) == 4)
    // growth: the count scales with ceil(bytes / target)
    assert(statePartsFor(700 * MiB, target, 32) == 6)
    assert(statePartsFor(1280 * MiB, target, 32) == 10)
    // cap: never beyond available cores (beyond slots = pure fan-out)
    assert(statePartsFor(100L * 1024 * MiB, target, 32) == 32)
    // saturating input size stays inside [floor, cap]
    assert(statePartsFor(Long.MaxValue, target, 32) == 32)
    // degenerate cores still respect the floor
    assert(statePartsFor(Long.MaxValue, target, 1) == 4)
  }

  test("stateParts: an unreadable input takes the fixed fallback, not the cap") {
    val missing = java.nio.file.Files.createTempDirectory("graft_no_events")
      .resolve("absent").toString
    assert(graft.streaming.EventsStream.stateParts(spark, missing) == 8)
  }

  test("stateTargetBytes: a bad SPARK_GRAFT_STATE_TARGET_BYTES takes the default") {
    import graft.streaming.EventsStream.stateTargetBytes
    val default = 128L * 1024 * 1024
    assert(stateTargetBytes(None) == default)
    assert(stateTargetBytes(Some("64MiB")) == default)
    assert(stateTargetBytes(Some("")) == default)
    assert(stateTargetBytes(Some("0")) == default)
    assert(stateTargetBytes(Some("-5")) == default)
    assert(stateTargetBytes(Some("99999999999999999999")) == default)
    assert(stateTargetBytes(Some(" 1048576 ")) == 1048576L)
  }
}
