package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's TimescaleDB
  * continuous aggregates (SURVEY.md §2.10; `infra/db/init.sql:81-100`):
  * an hourly windowed avg/min/max/count per dimension, tolerating late
  * rows up to a watermark (≙ the continuous aggregate's `start_offset`).
  *
  * The file source scales: each micro-batch lists new files and
  * distributes them; state is bounded by watermark expiry. For the
  * verify/bench harness the stream is driven to completion synchronously
  * over the static events parquet via a memory sink.
  */
object HourlyRollup {

  /** Raw parquet schema of a nanosecond-encoded events table — `ts` as
    * nanosecond longs (see Tables.loadEvents; requires nanosAsLong,
    * which Tables.eventsTsIsLong sets). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Schema for a microsecond-encoded events table — `ts` read directly
    * as TimestampType (what `withWatermark` requires; session TZ is UTC
    * so values equal the file's naive microseconds). */
  val eventsMicrosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming hourly rollup over `dir/events.parquet`, returned as a
    * static DataFrame once all available input is processed. Columns
    * match Aggregates.timeBucketAgg: (bucket, event_type, avg_v, min_v,
    * max_v, n). `measure` defaults to the raw value column — pass a
    * scaled/derived expression when the caller needs cross-engine-exact
    * aggregation (see the stream_hourly_rollup query).
    */
  def runToCompletion(
      spark: SparkSession,
      dir: String,
      measure: org.apache.spark.sql.Column = col("value")): DataFrame = {
    val agg = EventsStream.source(spark, dir)
      .withWatermark("ts", "2 days") // ≙ continuous-agg start_offset
      // struct key: casting its start here drops the event-time tag
      .groupBy(window(col("ts"), "1 hour").as("__w"), col("event_type"))
      .agg(
        avg(measure).as("avg_v"),
        min(measure).as("min_v"),
        max(measure).as("max_v"),
        count(measure).as("n"))
      .select(col("__w").getField("start").cast("timestamp_ntz")
          .as("bucket"),
        col("event_type"), col("avg_v"), col("min_v"), col("max_v"),
        col("n"))
    EventsStream.runToMemory(spark, agg, "graft_stream_rollup", "complete",
      EventsStream.stateParts(spark, dir))
  }

  /** Sliding-window streaming rollup: overlapping 6 h windows sliding
    * by 1 h (each event contributes to six windows — the Expand the
    * planner inserts fans rows out BEFORE the shuffle, so state stays
    * one row per (window, dim) like the tumbling case). Same
    * watermark/late-data contract as [[runToCompletion]].
    */
  def runSlidingToCompletion(
      spark: SparkSession,
      dir: String,
      measure: org.apache.spark.sql.Column = col("value")): DataFrame = {
    val agg = EventsStream.source(spark, dir)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "6 hours", "1 hour").getField("start")
          .cast("timestamp_ntz").as("bucket"),
        col("event_type"))
      .agg(sum(measure).as("sum_v"), count(measure).as("n"))
    EventsStream.runToMemory(spark, agg, "graft_stream_sliding",
      "complete", EventsStream.stateParts(spark, dir))
  }
}
