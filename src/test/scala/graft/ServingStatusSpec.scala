package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampNTZType}

import graft.ops.Aggregates
import graft.serving.Serving

/** `Serving.tableStatus` and `Serving.featureStatus` answer from
  * `TableFacts` when they can and fall back to the plain aggregate when
  * they cannot. On every planted input below each must return exactly
  * what the aggregate returns, by the expected path.
  */
class ServingStatusSpec extends SparkSpecBase {

  private val t0 = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
  private def hours(h: Column): Column =
    timestamp_micros(lit(t0) + h * 3600000000L).cast("timestamp_ntz")

  /** Each part written as one parquet file of one directory, read back. */
  private def stored(parts: DataFrame*): DataFrame = {
    val dir = Scratch.dir("graft_serving_status")
    parts.foreach(_.coalesce(1).write.mode("append").parquet(dir))
    spark.read.parquet(dir)
  }

  private def viaFacts(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  private def checkTable(df: DataFrame, facts: Boolean): Unit = {
    val got = Serving.tableStatus(df, col("ts"))
    assert(viaFacts(got) == facts, got.queryExecution.analyzed)
    assertSame(got, Aggregates.countMinMax(df, col("ts")))
  }

  private def checkFeatures(df: DataFrame, cols: Seq[String], facts: Boolean): Unit = {
    val got = Serving.featureStatus(df, cols)
    assert(viaFacts(got) == facts, got.queryExecution.analyzed)
    assertSame(got, Aggregates.filteredCounts(df, cols.map(c => s"n_$c" -> col(c).isNotNull): _*))
  }

  /** `n` rows of one file: `ts` from `h(id)` hours, `v` = id. */
  private def rows(n: Long, h: Column => Column): DataFrame =
    spark.range(0, n, 1, 1).select(hours(h(col("id"))).as("ts"), col("id").as("v"))

  test("tableStatus: sorted testdata events answer from facts") {
    checkTable(Tables.events(spark, sf()), facts = true)
  }

  test("tableStatus: a tie on ts still answers from facts") {
    checkTable(stored(rows(100, id => floor(id / 3))), facts = true)
  }

  test("tableStatus: ties across sorted files answer from facts") {
    checkTable(stored(rows(50, _ => lit(7L)), rows(50, id => lit(7L) + floor(id / 10))),
      facts = true)
  }

  test("tableStatus: a null ts falls back") {
    val first = rows(60, id => id).withColumn("ts", when(col("v") === 0, null).otherwise(col("ts")))
    val middle = rows(60, id => id).withColumn("ts", when(col("v") === 30, null).otherwise(col("ts")))
    checkTable(stored(first), facts = false)
    checkTable(stored(middle), facts = false)
  }

  test("tableStatus: an empty file beside a sorted one answers from facts") {
    val df = stored(rows(0, id => id), rows(40, id => id))
    assert(df.inputFiles.length == 2)
    checkTable(df, facts = true)
  }

  test("tableStatus: only empty files fall back") {
    val df = stored(rows(0, id => id))
    assert(df.inputFiles.length == 1)
    checkTable(df, facts = false)
  }

  test("tableStatus: an unsorted file falls back") {
    checkTable(stored(rows(100, id => id * 37 % 100)), facts = false)
  }

  test("tableStatus: overlapping sorted files fall back") {
    checkTable(stored(rows(50, id => id * 2), rows(50, id => id * 2 + 1)), facts = false)
  }

  test("tableStatus: a filtered input falls back without a proof job") {
    val df = stored(rows(100, id => id)).filter(col("v") >= 10)
    val got = Serving.tableStatus(df, col("ts"))
    assert(!viaFacts(got))
    assert(jobsDuring(Serving.tableStatus(df, col("ts"))) == 0)
    assertSame(got, Aggregates.countMinMax(df, col("ts")))
  }

  test("tableStatus: a double time column falls back") {
    val df = stored(spark.range(0, 50, 1, 1).select(col("id").cast("double").as("ts")))
    checkTable(df, facts = false)
  }

  /** A feature frame: `a` null on every third row, `b` never null, `c`
    * always null. */
  private def features(from: Long, n: Long): DataFrame =
    spark.range(from, from + n, 1, 1).select(
      hours(col("id")).as("time"),
      when(col("id") % 3 === 0, null).otherwise(col("id") * 0.5).as("a"),
      (col("id") * 2.0).as("b"),
      lit(null).cast("double").as("c"))

  private val featureCols = Seq("a", "b", "c")

  test("featureStatus: footer counts answer, an empty file included") {
    val df = stored(features(0, 70), features(70, 0), features(70, 41))
    assert(df.inputFiles.length == 3)
    checkFeatures(df, featureCols, facts = true)
    checkFeatures(df, Nil, facts = true)
  }

  test("featureStatus: a file written without column statistics falls back") {
    val dir = Scratch.dir("graft_serving_status")
    features(0, 70).coalesce(1).write.mode("append").parquet(dir)
    features(70, 30).coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(dir)
    checkFeatures(spark.read.parquet(dir), featureCols, facts = false)
  }

  test("featureStatus: a column missing from one file falls back") {
    val dir = Scratch.dir("graft_serving_status")
    features(0, 70).coalesce(1).write.mode("append").parquet(dir)
    features(70, 30).drop("c").coalesce(1).write.mode("append").parquet(dir)
    val schema = StructType(Seq(StructField("time", TimestampNTZType)) ++
      featureCols.map(StructField(_, DoubleType)))
    val df = spark.read.schema(schema).parquet(dir)
    checkFeatures(df, featureCols, facts = false)
    checkFeatures(df, Seq("a", "b"), facts = true)
  }

  test("featureStatus: derived columns and filtered inputs fall back") {
    val df = stored(features(0, 70))
    checkFeatures(df.withColumn("a", col("a") + 1), featureCols, facts = false)
    checkFeatures(df.filter(col("b") > 10), featureCols, facts = false)
    checkFeatures(df.select(col("time"), col("a"), col("b"), col("c")), featureCols, facts = true)
  }
}
