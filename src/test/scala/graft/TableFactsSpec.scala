package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Aggregates
import graft.serving.Serving

/** The `TableFacts` memo: facts about a table's files are derived once
  * per file fingerprint and serve every later read of the same files, so
  * warm status reads start no job and a warm `chartSeries` only its
  * collect, while any change to the files — a file rewritten in place,
  * a file added — or to a value-affecting session conf derives them
  * anew.
  */
class TableFactsSpec extends SparkSpecBase {
  import SortedStrideSpec.strideReference

  private val order = Seq(col("ts"), col("event_id"))
  private val week = date_trunc("week", col("ts"))

  private def chart(ev: DataFrame, maxPoints: Int = 10): DataFrame =
    Serving.chartSeries(ev, week, order, maxPoints)

  private def sameRows(got: DataFrame, want: DataFrame): Boolean =
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty

  private def status(ev: DataFrame): Seq[Row] =
    Serving.tableStatus(ev, col("ts")).collect().toSeq

  private def statusRef(ev: DataFrame): Seq[Row] =
    Aggregates.countMinMax(ev, col("ts")).collect().toSeq

  private val baseUs = 1704067200L * 1000000L // 2024-01-01 00:00:00 UTC
  private val microsTs: Column => Column = us => timestamp_micros(us).cast("timestamp_ntz")
  private val nanosTs: Column => Column = us => (us * 1000L + 789L).cast("long")
  private val utcTs: Column => Column = us => timestamp_micros(us)

  /** Writes 48 sorted events, one an hour from `baseUs + shiftH` hours
    * (`ts` from `mkTs` over epoch micros), as the file `to`, replacing
    * whatever is there. Uncompressed and without dictionaries, so two
    * writes that differ only in their `ts` values have equal lengths. */
  private def writeEvents(to: Path, mkTs: Column => Column, shiftH: Long = 0): Unit = {
    val staging = Paths.get(Scratch.dir("graft_facts_stage"))
    spark.range(48).select(
        col("id").as("event_id"),
        mkTs(lit(baseUs) + (col("id") + shiftH) * 3600000000L).as("ts"),
        (col("id") % 5).as("user_id"),
        lit("click").as("event_type"),
        lit(1.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1)
      .write.mode("overwrite")
      .option("compression", "uncompressed")
      .option("parquet.enable.dictionary", "false")
      .parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.createDirectories(to.getParent)
    Files.copy(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  private def freshEvents(mkTs: Column => Column = microsTs): String = {
    val dir = Paths.get(Scratch.dir("graft_facts"))
    writeEvents(dir.resolve("events.parquet"), mkTs)
    dir.toString
  }

  test("warm chartSeries, tableStatus and featureStatus start 1, 0 and 0 jobs") {
    val dir = freshEvents()
    val featDir = Scratch.dir("graft_facts_features")
    Tables.events(spark, dir).select(col("ts").as("time"), col("value"), col("user_id"))
      .coalesce(1).write.mode("overwrite").parquet(featDir)
    val features = spark.read.parquet(featDir)
    val cols = Seq("value", "user_id")
    def feat = Serving.featureStatus(features, cols)
    // cold: each derives its facts
    chart(Tables.events(spark, dir)).collect()
    status(Tables.events(spark, dir))
    feat.collect()
    assert(jobsDuring(chart(Tables.events(spark, dir)).collect()) == 1)
    assert(jobsDuring(status(Tables.events(spark, dir))) == 0)
    assert(jobsDuring(feat.collect()) == 0)
    val ev = Tables.events(spark, dir)
    assert(sameRows(chart(ev), strideReference(ev, order, 10)))
    assert(status(ev) == statusRef(ev))
    assert(feat.collect().toSeq == Aggregates.filteredCounts(features,
      cols.map(c => s"n_$c" -> col(c).isNotNull): _*).collect().toSeq)
  }

  test("two separate Tables.events reads share one entry") {
    val dir = freshEvents()
    val before = TableFacts.orders.size
    val a = Tables.events(spark, dir)
    val b = Tables.events(spark, dir)
    assert(status(a) == statusRef(a))
    assert(TableFacts.orders.size == before + 1)
    assert(jobsDuring(status(b)) == 0)
    assert(TableFacts.orders.size == before + 1)
  }

  test("an in-place µs→ns→µs rewrite derives the facts anew") {
    val dir = Paths.get(Scratch.dir("graft_facts_rewrite"))
    val file = dir.resolve("events.parquet")
    def ev = Tables.events(spark, dir.toString)
    def check(): Unit = {
      assert(status(ev) == statusRef(ev))
      assert(sameRows(chart(ev), strideReference(ev, order, 10)))
    }
    writeEvents(file, microsTs)
    check()
    val (len, mtime) = (Files.size(file), Files.getLastModifiedTime(file))
    writeEvents(file, nanosTs)
    check()
    // back to µs, every ts an hour later: the path and length of the
    // first write, so only the mtime tells the facts apart
    writeEvents(file, microsTs, shiftH = 1)
    assert(Files.size(file) == len && Files.getLastModifiedTime(file) != mtime)
    check()
    assert(jobsDuring(status(ev)) == 0)
  }

  test("an added file derives the facts anew") {
    val dir = Paths.get(Scratch.dir("graft_facts_added"))
    val table = dir.resolve("events.parquet")
    def ev = Tables.events(spark, dir.toString)
    writeEvents(table.resolve("part-0.parquet"), microsTs)
    assert(status(ev) == statusRef(ev))
    assert(status(ev).head.getLong(0) == 48L)
    writeEvents(table.resolve("part-1.parquet"), microsTs, shiftH = 48)
    assert(status(ev) == statusRef(ev))
    assert(status(ev).head.getLong(0) == 96L)
    assert(sameRows(chart(ev), strideReference(ev, order, 10)))
  }

  test("flipping the session time zone gives different facts") {
    val dir = freshEvents(utcTs)
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    def ev = Tables.events(spark, dir)
    try {
      spark.conf.set(key, "UTC")
      val utc = status(ev)
      assert(utc == statusRef(ev))
      spark.conf.set(key, "America/New_York")
      val ny = status(ev)
      assert(ny == statusRef(ev))
      assert(ny != utc)
      assert(sameRows(chart(ev), strideReference(ev, order, 10)))
    } finally spark.conf.set(key, before)
  }

  test("four concurrent cold callers agree with the reference and leave one entry") {
    val dir = freshEvents()
    val before = TableFacts.orders.size
    val pool = Executors.newFixedThreadPool(4)
    val got = try {
      pool.invokeAll((1 to 4).map(_ => new Callable[Array[Row]] {
        def call(): Array[Row] = chart(Tables.events(spark, dir)).collect()
      }).asJava).asScala.map(_.get.toSeq.sortBy(_.getLong(0)))
    } finally pool.shutdown()
    val ev = Tables.events(spark, dir)
    val want = strideReference(ev, order, 10).collect().toSeq.sortBy(_.getLong(0))
    assert(got.forall(_ == want))
    assert(TableFacts.orders.size == before + 1)
  }

  test("ties on ts: tableStatus answers from the facts, chartSeries falls back") {
    val dir = Scratch.dir("graft_facts_ties")
    spark.range(0, 90, 1, 1)
      .select(timestamp_micros(lit(baseUs) + (col("id") / 3).cast("long") * 3600000000L)
        .cast("timestamp_ntz").as("ts"), col("id").as("event_id"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    assert(status(df) == statusRef(df))
    assert(jobsDuring(status(df)) == 0)
    // one stored-order entry for Seq(ts): its keys never fall but do not
    // rise strictly, so a stride over ts alone takes the fallback
    val got = Serving.chartSeries(df, week, Seq(col("ts")), 7)
    assert(got.queryExecution.executedPlan.treeString.contains("Exchange"))
    assert(sameRows(got.select("ts"), strideReference(df, Seq(col("ts")), 7).select("ts")))
  }
}
