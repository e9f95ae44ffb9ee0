package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ScalableRank

/** `ScalableRank.downsampleStride` has two plans: a narrow filter on
  * `_metadata.row_index` when the input's parquet files are proven stored
  * in the requested order, and the bucket-offset numbering otherwise.
  * Each planted input below must take the expected plan and keep exactly
  * the rows a plain global `row_number()` keeps.
  */
class SortedStrideSpec extends SparkSpecBase {
  import SortedStrideSpec.strideReference

  private lazy val ev = Tables.events(spark, sf())
  private val evOrder = Seq(col("ts"), col("event_id"))

  /** `df` written as one parquet file per partition and read back. */
  private def stored(df: DataFrame): DataFrame = {
    val dir = Scratch.dir("graft_sorted_stride")
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def stride(df: DataFrame, order: Seq[Column], maxPoints: Int) =
    ScalableRank.downsampleStride(df, lit(0), order, maxPoints)

  private def plan(df: DataFrame) = df.queryExecution.executedPlan.treeString

  private def assertNarrow(df: DataFrame): Unit = {
    assert(!plan(df).contains("Exchange"), plan(df))
    assert(plan(df).contains("row_index"), plan(df))
  }

  private def assertFallback(df: DataFrame): Unit =
    assert(plan(df).contains("Exchange"), plan(df))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  private def check(df: DataFrame, order: Seq[Column], narrow: Boolean,
      maxPoints: Int = 7): Unit = {
    val got = stride(df, order, maxPoints)
    if (narrow) assertNarrow(got) else assertFallback(got)
    assertSameRows(got, strideReference(df, order, maxPoints))
  }

  test("sorted testdata events take the narrow path") {
    val got = ScalableRank.downsampleStride(ev, date_trunc("week", col("ts")), evOrder, 100)
    assertNarrow(got)
    assertSameRows(got, strideReference(ev, evOrder, 100))
  }

  test("the narrow path generates the same code for every maxPoints") {
    def code(maxPoints: Int) = {
      val got = stride(ev, evOrder, maxPoints)
      assertNarrow(got)
      got.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2 }
    }
    // CodeAndComment equality is the codegen cache key: equal code means
    // one compiled class serves both calls
    assert(code(7).nonEmpty && code(7) == code(9))
  }

  test("several disjoint sorted files take the narrow path") {
    val df = stored(spark.range(0, 300)
      .repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .withColumn("v", col("id") * 3))
    assert(df.inputFiles.length == 3)
    check(df, Seq(col("id")), narrow = true)
  }

  test("a file read by several tasks tiles its row range") {
    val dir = Scratch.dir("graft_sorted_stride")
    spark.range(0, 20000, 1, 1).withColumn("v", col("id") * 3)
      .write.mode("overwrite").option("parquet.block.size", 8192).parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, 8192L)
    try {
      val df = spark.read.parquet(dir)
      // one file, rows read by several tasks: several runs per file
      assert(df.inputFiles.length == 1 &&
        df.select(spark_partition_id()).distinct().count() > 1)
      check(df, Seq(col("id")), narrow = true, maxPoints = 99)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a filter that removes a prefix takes the narrow path") {
    check(ev.filter(col("event_id") >= 250), evOrder, narrow = true)
  }

  test("a descending order over a descending file takes the narrow path") {
    val df = stored(spark.range(0, 200, 1, 1).select((lit(199L) - col("id")).as("id")))
    check(df, Seq(col("id").desc), narrow = true)
  }

  test("an unsorted file falls back") {
    val df = stored(spark.range(0, 200, 1, 1).select((col("id") * 37 % 200).as("id")))
    check(df, Seq(col("id")), narrow = false)
  }

  test("two sorted but overlapping files fall back") {
    val df = stored(spark.range(0, 200, 1, 2).select(
      when(col("id") < 100, col("id") * 2).otherwise((col("id") - 100) * 2 + 1).as("id")))
    assert(df.inputFiles.length == 2)
    check(df, Seq(col("id")), narrow = false)
  }

  test("a tie on the full key falls back") {
    val df = stored(spark.range(0, 200, 1, 1)
      .select((col("id") / 2).cast("long").as("k"), col("id")))
    val got = stride(df, Seq(col("k")), 7)
    assertFallback(got)
    // which of two tied rows is kept is arbitrary; the kept keys are not
    assertSameRows(got.select("k"), strideReference(df, Seq(col("k")), 7).select("k"))
  }

  test("a filter that removes middle rows falls back") {
    check(ev.filter(!col("event_id").between(300, 400)), evOrder, narrow = false)
  }

  test("empty input falls back") {
    val got = stride(ev.filter(col("event_id") < 0), evOrder, 7)
    assertFallback(got)
    assert(got.isEmpty)
  }

  test("a LocalRelation falls back") {
    val df = spark.createDataFrame(Seq((3L, "c"), (1L, "a"), (2L, "b"), (5L, "e")))
      .toDF("id", "s")
    check(df, Seq(col("id")), narrow = false, maxPoints = 2)
  }

  test("maxPoints below 1 is rejected on both paths") {
    val local = spark.createDataFrame(Seq((1L, "a"))).toDF("id", "s")
    for (df <- Seq(ev, local); m <- Seq(0, -5)) {
      val e = intercept[IllegalArgumentException](stride(df, Seq(col(df.columns.head)), m))
      assert(e.getMessage.contains(s"maxPoints >= 1, got $m"))
    }
  }
}

object SortedStrideSpec {

  /** Rows at 0-based positions 0, step, 2·step, … of one global
    * `row_number()` window, step = ceil(n / maxPoints). */
  def strideReference(df: DataFrame, order: Seq[Column], maxPoints: Int): DataFrame = {
    val step = math.ceil(df.count() / maxPoints.toDouble).toLong
    df.withColumn("__rn", row_number().over(Window.orderBy(order: _*)))
      .filter(pmod(col("__rn") - 1, lit(step)) === 0)
      .drop("__rn")
  }
}
