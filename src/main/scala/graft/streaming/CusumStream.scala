package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming CUSUM — the streaming twin of `TimeSeries.cusum`:
  * each arriving reading advances the per-series one-sided drift
  * statistic S⁺ = max(0, S⁺ + (x − target)) and emits it. Persistent
  * state is ONE long per series regardless of event volume — the batch
  * closed form (cum − min(0, running-min)) and this recursion are the
  * same statistic, which is exactly what the shared oracle checks.
  *
  * The per-series reference level (⌊mean⌋ — in a deployment a
  * configured target; here the same batch pre-pass the batch operator
  * runs) attaches through a stream-static BROADCAST join, so the
  * stream side never shuffles for it and no driver-side lookup map
  * exists. Arithmetic is exact integer cents end-to-end.
  *
  * ORDERING PRECONDITION: like the other stateful twins, streaming ≡
  * batch requires batches delivered in (ts, event_id) order per
  * series — the single-file harness source satisfies it.
  */
object CusumStream {

  case class Ev(event_id: Long, event_type: String, ts_us: Long,
      cents: Long, tgt: Long)
  case class CusumState(sPos: Long)
  case class CusumOut(event_id: Long, cusum_pos: Long)

  /** Drives the stream to completion; returns (event_id, cusum_pos). */
  def runToCompletion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // reference levels: the SAME exact-integer ⌊sum/n⌋ the batch
    // operator derives (one tiny static aggregate, broadcast below)
    val targets = graft.Tables.events(spark, dir)
      .withColumn("__c", round(col("value") * 100, 0).cast("long"))
      .groupBy(col("event_type"))
      .agg(floor(sum(col("__c")).cast("double") / count(col("__c")))
        .cast("long").as("tgt"))
    val stream = EventsStream.source(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .join(broadcast(targets), Seq("event_type"))
      .as[Ev]
    val cusums = stream
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, events: Iterator[Ev], state: GroupState[CusumState]) =>
          // (ts, event_id) — the same tiebreak as the batch window sort.
          // Array + primitive comparator, not toSeq.sortBy: a group can
          // be a micro-batch's whole slice of a hot series (sf10: ~1M
          // events), and sortBy allocates a key tuple PER COMPARISON —
          // measured as the dominant share of this query's GC tax at an
          // undersized heap (SCALE.md 8 g table). One output array,
          // written in place, no builder.
          val arr = events.toArray
          java.util.Arrays.sort(arr, new java.util.Comparator[Ev] {
            def compare(a: Ev, b: Ev): Int = {
              val c = java.lang.Long.compare(a.ts_us, b.ts_us)
              if (c != 0) c else java.lang.Long.compare(a.event_id, b.event_id)
            }
          })
          var s = state.getOption.map(_.sPos).getOrElse(0L)
          val out = new Array[CusumOut](arr.length)
          var i = 0
          while (i < arr.length) {
            val e = arr(i)
            s = math.max(0L, s + (e.cents - e.tgt))
            out(i) = CusumOut(e.event_id, s)
            i += 1
          }
          state.update(CusumState(s))
          out.iterator
      }
    EventsStream.runToMemory(spark, cusums.toDF(),
      "graft_stream_cusum", "append", EventsStream.stateParts(spark, dir))
  }
}
