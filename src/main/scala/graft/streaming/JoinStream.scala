package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Portable.r6

/** Watermarked stream-stream interval join: click events enriched with
  * the same user's view events from the preceding 30 minutes.
  *
  * Both sides carry a watermark and the join condition bounds the event
  * time range, so each side's buffered state expires as the watermark
  * advances — state is (events within the lateness horizon + the 30 min
  * join window), not the whole stream. Without the time-range predicate
  * Spark would have to keep every row ever seen on both sides; this is
  * the 100 TB-safe shape of stream enrichment.
  */
object JoinStream {

  /** Runs the join to completion over the static events input (memory
    * sink; state partitioning sized by EventsStream.runToMemory — a
    * stream-stream join keeps FOUR state stores per partition, the
    * worst case for commit fan-out). Output: one row per
    * (click, view-within-30-min) pair.
    *
    * `noDataBatches = false` (r19): an INNER stream-stream join emits a
    * match in the data batch that completes it — the watermark only
    * EVICTS state, it gates no output — so the trailing zero-data
    * micro-batches (each a full 4-store commit cycle across every state
    * partition) are pure teardown cost here. This is the one stream
    * family where the opt-out is output-identical (r18 per-stream
    * review); append aggregates, outer joins and timeout-based
    * operators all keep the default.
    */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame = {
    def src = EventsStream.source(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user"), col("ts").as("v_ts"), col("value"))
      .withWatermark("v_ts", "1 hour")
    val joined = clicks.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 30 MINUTES") &&
          col("v_ts") <= col("c_ts"))
      .select(col("click_id"), col("view_id"),
        r6(col("value")).as("view_value"))
    EventsStream.runToMemory(spark, joined, "graft_stream_join", "append",
      EventsStream.stateParts(spark, dir), noDataBatches = false)
  }
}
