package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming idempotent ingest: the reference's `ON CONFLICT DO NOTHING`
  * key dedup (`src/db/timescale_client.py:53-229`) as a stateful
  * Structured Streaming stage. `dropDuplicatesWithinWatermark` keeps one
  * row per key and expires key state once the watermark passes it, so
  * state is bounded by (key cardinality within the lateness horizon) —
  * the 100 TB-safe version of a grow-forever dedup set.
  */
object DedupStream {

  /** Streaming key-dedup over `dir/events.parquet`, driven to completion
    * over the static input (memory sink). Output: one row per event_id.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame =
    EventsStream.runToMemory(spark,
      EventsStream.source(spark, dir)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value")),
      "graft_stream_dedup", "append", EventsStream.stateParts(spark, dir))
}
