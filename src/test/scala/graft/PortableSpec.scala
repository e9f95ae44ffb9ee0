package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

import graft.functions.Portable

/** The oracle SQL of every rounded output column is built by
  * `Portable.r6Sql`/`r4Sql`: the text must stay the one DuckDB runs,
  * and Spark SQL over that text must agree with the Column form the
  * queries use, across the cap, tie and non-finite boundaries.
  */
class PortableSpec extends SparkSpecBase {

  test("r6Sql and r4Sql build the exact guarded floor text") {
    assert(Portable.r6Sql("x") ===
      "CASE WHEN abs(x) < 8.0e9 THEN floor((x) * 1e6 + 0.5) / 1e6 " +
        "ELSE (x) END")
    assert(Portable.r4Sql("x") ===
      "CASE WHEN abs(x) < 8.0e11 THEN floor((x) * 1e4 + 0.5) / 1e4 " +
        "ELSE (x) END")
  }

  private val boundaries: Seq[Option[Double]] = Seq(
    Some(5e-7), Some(-5e-7), Some(Math.nextDown(8e9)), Some(8e9),
    Some(-8e9), Some(1e300), Some(Double.NaN),
    Some(Double.PositiveInfinity), Some(Double.NegativeInfinity), None)

  /** Spark SQL over `sql("x")` against `fn(col("x"))`, row by row, as
    * double bit patterns: NaN matches NaN and -0.0 differs from 0.0. */
  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToLongBits(
      d.asInstanceOf[Double]))

  private def assertSame(values: Seq[Option[Double]],
      sql: String => String, fn: Column => Column): Unit = {
    val s = spark
    import s.implicits._
    values.toDF("x").createOrReplaceTempView("portable_x")
    val got = spark.sql(s"SELECT x, ${sql("x")} AS v FROM portable_x")
      .collect().map(r => (bits(r.get(0)), bits(r.get(1))))
    val want = values.toDF("x").select(col("x"), fn(col("x")))
      .collect().map(r => (bits(r.get(0)), bits(r.get(1))))
    assert(got.length === values.length)
    assert(got.toSeq === want.toSeq)
  }

  test("Spark SQL over r6Sql equals Portable.r6 at the boundaries") {
    assertSame(boundaries, Portable.r6Sql, Portable.r6)
  }

  test("Spark SQL over r4Sql equals Portable.r4 at the boundaries") {
    assertSame(boundaries ++ Seq(Some(5e-5), Some(-5e-5),
        Some(Math.nextDown(8e11)), Some(8e11)),
      Portable.r4Sql, Portable.r4)
  }
}
