package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All tables are single parquet files under `sfDir`. The `events` table's
  * `ts` physical encoding has varied across testdata generations
  * (TIMESTAMP(NANOS) INT64 vs timestamp[us]); `events` normalizes to
  * microsecond TIMESTAMP_NTZ on read whatever the file carries, so every
  * consumer sees one contract and a generator change can never again
  * break the read path (the round-9 lesson).
  *
  * Schema cache contract. A table's schema is catalog metadata, not
  * per-request work: every read here goes through [[read]], which infers
  * a path's schema once (Spark 4 runs a schema-merge JOB for that, even
  * for one footer) and then reads with the schema pinned, so a warm read
  * launches zero Spark jobs. The schemas are a [[TableFacts.Memo]] keyed
  * on the path: its fingerprint is the sorted leaf files as (path,
  * length, mtime) plus the session values of the parquet inference confs
  * ([[inferenceConfs]]). Any change to the fingerprint (a file added,
  * removed, rewritten or touched, or an inference conf flipped) re-infers
  * and REPLACES the path's entry, so the map holds one entry per path.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** The session confs that change what parquet schema inference returns
    * for the same files; their values are part of the fingerprint. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private val schemas = new TableFacts.Memo[String, StructType]

  /** The one parquet read of this object: the cached schema when the
    * path's fingerprint still matches, otherwise one inference that
    * replaces the entry. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = TableFacts.Fingerprint.of(leaves(fs, fs.getFileStatus(p)),
      inferenceConfs.map(spark.conf.get))
    spark.read.schema(schemas(path, fp)(spark.read.parquet(path).schema)).parquet(path)
  }

  /** Leaf files under `st`. Plain status calls, not `listFiles`: on the
    * local filesystem a located status also loads each file's
    * permissions, about 4 ms per single-file table against 0.02 ms. */
  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves(fs, _))
    else Seq(st)

  /** Raw events read with `nanosAsLong` set: the probe and the read share
    * one schema lookup. The conf must be set before the read — without
    * it a NANOS-encoded file throws before any branch is taken. */
  private def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    read(spark, s"$sfDir/events.parquet")
  }

  private def tsIsLong(raw: DataFrame): Boolean =
    raw.schema("ts").dataType == LongType

  /** Spark-visible dtype of the events `ts` column, from the cached
    * schema (footer-only inference on first sight of the file). With
    * `nanosAsLong` set, a TIMESTAMP(NANOS) file surfaces as LongType; a
    * timestamp[us] file as TimestampType/TimestampNTZType. This is the
    * single branch point for every events read path — batch, streaming,
    * and ScaleUp.
    */
  def eventsTsIsLong(spark: SparkSession, sfDir: String): Boolean =
    tsIsLong(rawEvents(spark, sfDir))

  /** Schema-adaptive events read: nanosecond-INT64 `ts` is floor-divided
    * to microseconds (identical to DuckDB's ns→µs truncation); a native
    * microsecond timestamp is cast directly. Both emit TIMESTAMP_NTZ to
    * match the naive timestamps of every other table.
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = rawEvents(spark, sfDir)
    if (tsIsLong(raw))
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else
      raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  /** Week-chunked events layout — the Spark analog of the reference's
    * hypertable time chunking (`create_hypertable(..., chunk_time_interval
    * => INTERVAL '7 days')`, infra/db/init.sql:14-18), wired into the
    * feature-view read path: the `[fromDay, toDay]` window becomes a
    * PartitionFilter, so chunks outside it are pruned before any row
    * group is opened. Chunks are the reference's 7-day interval — coarse
    * enough that the file count stays small (small-file fanout is its
    * own scale killer: per-file open/listing cost swamps the scan),
    * fine enough that a typical export window prunes most of a year.
    * In a deployment this IS the table's storage layout; for the
    * harness it is materialized once per (JVM, sfDir) under tmpdir. This
    * JVM owns that directory, so the schema read back right after the
    * write is kept beside it and every later read pins it (zero jobs).
    */
  def eventsChunked(
      s: SparkSession,
      d: String,
      fromDay: String,
      toDay: String): DataFrame = {
    val (dir, schema) = partitionedEvents.computeIfAbsent(d, _ => {
      // harness hygiene: the materialized copy dies with the JVM (in a
      // deployment the layout is the permanent table, not a copy)
      val tmp = Scratch.dir("graft_events_chunked")
      // a chunk is a partition DIRECTORY, not a single file: range-
      // partition on (chunk, ts) so the cluster's parallelism worth of
      // ts-sorted files splits across chunks proportionally to their
      // row counts. hash-repartitioning on the chunk column alone wrote
      // exactly one file per chunk, which capped every downstream
      // events scan at #chunks-way parallelism — invisible on a
      // years-long span, a 6× wall regression once the generator packed
      // sf1 into 30 days (5 chunks, 32 idle cores). Range+sort also
      // gives each file a tight ts min/max band, so row-group stats
      // prune time predicates inside a chunk.
      val ev = loadEvents(s, d)
        .withColumn("chunk", to_date(date_trunc("week", col("ts"))))
      ev.repartitionByRange(
          s.sparkContext.defaultParallelism, col("chunk"), col("ts"))
        .sortWithinPartitions(col("chunk"), col("ts"))
        .write.mode("overwrite").partitionBy("chunk").parquet(tmp)
      (tmp, s.read.parquet(tmp).schema)
    })
    // the chunk containing fromDay starts at that week's Monday
    // (date_trunc('week') is ISO — Monday), matching Spark's week rule
    val fromChunk = java.time.LocalDate.parse(fromDay)
      .`with`(java.time.temporal.TemporalAdjusters
        .previousOrSame(java.time.DayOfWeek.MONDAY)).toString
    s.read.schema(schema).parquet(dir)
      .filter(col("chunk").between(fromChunk, toDay))
      .filter(to_date(col("ts")).between(fromDay, toDay))
      // partitioned reads append the partition column last, so dropping
      // it restores the flat-events column order exactly
      .drop("chunk")
  }

  private val partitionedEvents =
    new ConcurrentHashMap[String, (String, StructType)]()

  /** (min day, max day) of the events table, cached per (JVM, sfDir) —
    * one 1-column scan at plan-build time. Callers that want "the whole
    * table, but through the chunk-pruned path" (the feature views over
    * the harness data) use this instead of hardcoding dates, so the
    * window tracks whatever the testdata generator produced. */
  def eventsSpan(s: SparkSession, d: String): (String, String) =
    eventsSpans.computeIfAbsent(d, _ => {
      val r = loadEvents(s, d)
        .agg(min(to_date(col("ts"))).cast("string"),
          max(to_date(col("ts"))).cast("string"))
        .first()
      // min/max over zero rows are NULL — fail with a clear message
      // instead of caching a poisoned (null, null) span that would NPE
      // in every later eventsChunked call this JVM
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"eventsSpan: events table at $d is empty or all-null ts")
      (r.getString(0), r.getString(1))
    })

  private val eventsSpans =
    new ConcurrentHashMap[String, (String, String)]()

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame   = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
