package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** The `Tables` schema cache: a table's schema is resolved once per file
  * fingerprint, so building a warm read starts no Spark job, while a
  * rewritten file is re-inferred on its next read (the round-9 ts
  * encoding switch must never be served a stale schema).
  */
class TablesReadSpec extends SparkSpecBase {

  private val baseUs = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
  private val expectSpan = (baseUs, baseUs + 47L * 3600000000L, 48L)
  private val nanosTs: Column => Column = us => (us * 1000L + 789L).cast("long")
  private val microsTs: Column => Column = us => timestamp_micros(us).cast("timestamp_ntz")

  /** Writes a 48-row events table (one event per hour from 2024-01-01,
    * `ts` from `mkTs` over epoch micros) as the SINGLE file
    * `dir/events.parquet`, replacing whatever file is there. */
  private def writeEventsFile(dir: Path, mkTs: Column => Column): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage")
    spark.range(48).select(
        col("id").as("event_id"),
        mkTs(lit(baseUs) + col("id") * 3600000000L).as("ts"),
        (col("id") % 5).as("user_id"),
        lit("click").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.copy(part, dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (min ts, max ts, count) of `Tables.events`, as epoch micros — the
    * span `TsContractSpec` pins for each encoding. */
  private def batchSpan(dir: String): (Long, Long, Long) = {
    val r = Tables.events(spark, dir)
      .agg(
        min(unix_micros(col("ts").cast("timestamp"))),
        max(unix_micros(col("ts").cast("timestamp"))),
        count(lit(1)))
      .first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("a warm Tables read builds its DataFrame without starting a job") {
    Tables.events(spark, sf())
    Tables.orders(spark, sf())
    Tables.load(spark, sf(), "lineitem")
    val warm = jobsDuring {
      Tables.events(spark, sf())
      Tables.eventsTsIsLong(spark, sf())
      Tables.orders(spark, sf())
      Tables.load(spark, sf(), "lineitem").schema
    }
    assert(warm == 0, s"$warm jobs to build warm reads")
  }

  test("rewriting events.parquet in place switches the ts encoding on the " +
    "next read, both ways") {
    val dir = Files.createTempDirectory("graft_tables_rewrite")
    writeEventsFile(dir, microsTs)
    assert(Tables.events(spark, dir.toString).schema("ts").dataType == TimestampNTZType)
    assert(batchSpan(dir.toString) == expectSpan)
    assert(!Tables.eventsTsIsLong(spark, dir.toString))

    // µs → ns: the cached timestamp schema would read the longs as µs
    // and dilate every ts 1000×; the fingerprint must catch the rewrite
    writeEventsFile(dir, nanosTs)
    assert(jobsDuring(Tables.events(spark, dir.toString)) > 0) // re-inferred
    assert(Tables.eventsTsIsLong(spark, dir.toString))
    assert(batchSpan(dir.toString) == expectSpan) // +789 ns truncated

    // and back: ns → µs
    writeEventsFile(dir, microsTs)
    assert(!Tables.eventsTsIsLong(spark, dir.toString))
    assert(batchSpan(dir.toString) == expectSpan)
    assert(jobsDuring(Tables.events(spark, dir.toString)) == 0)
  }

  test("four threads reading a cold events table agree on schema and count") {
    val dir = Files.createTempDirectory("graft_tables_threads")
    writeEventsFile(dir, nanosTs)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = pool.invokeAll((1 to 4).map(_ => new Callable[(String, Long)] {
        def call(): (String, Long) = {
          val ev = Tables.events(spark, dir.toString)
          (ev.schema.json, ev.count())
        }
      }).asJava).asScala.map(_.get)
      assert(got.map(_._1).distinct.size == 1)
      assert(got.forall(_._2 == 48L))
      assert(Tables.events(spark, dir.toString).schema.json == got.head._1)
    } finally pool.shutdown()
    assert(batchSpan(dir.toString) == expectSpan)
  }
}
