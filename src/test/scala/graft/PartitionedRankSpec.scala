package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ScalableRank

/** `partitionBy` keys on the bucket-offset operators: offsets and totals
  * restart per partition, so the result equals the partitioned window
  * form. The partitions share every bucket value, as rfm's three metrics
  * share bands, so an offset taken across partitions shows.
  */
class PartitionedRankSpec extends SparkSpecBase {

  private val k = 10

  /** Partition 0 holds 347 rows (347 % k = 7), partition 1 340
    * (340 % k = 0), partition 2 7 (fewer than k); `v` has ties inside a
    * partition, `id` is unique, and `v div 100` spans the same ten
    * buckets in every partition. */
  private lazy val df: DataFrame =
    Seq(347L, 340L, 7L).zipWithIndex.map { case (n, p) =>
      spark.range(n).select(lit(p).as("p"), (col("id") + p * 1000L).as("id"))
    }.reduce(_ unionByName _)
      .withColumn("v", pmod(col("id") * 2654435761L, lit(1000L)))
      .withColumn("x", col("id") % 13 + 1)

  private val order = Seq(col("v"), col("id"))
  private val w = Window.partitionBy(col("p")).orderBy(order: _*)

  private def same(got: DataFrame, want: DataFrame, clue: String): Unit = {
    assert(got.count() == df.count(), s"$clue: row count")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, clue)
  }

  test("partitioned globalNtile equals ntile over a partitioned window") {
    val got = ScalableRank.globalNtile(df, expr("v div 100"), order, k, "t",
      partitionBy = Seq(col("p")))
    val want = df.withColumn("t", ntile(k).over(w))
    same(got.select("id", "t"), want.select("id", "t"), "ntile")
    // every partition, n < k included, fills its tiles as ntile does
    val tiles = got.groupBy("p").agg(max("t")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(tiles == Map(0 -> k, 1 -> k, 2 -> 7))
  }

  test("partitioned globalPrefixSum equals the partitioned window sum, " +
    "both forms") {
    for (inclusive <- Seq(false, true)) {
      val upper = if (inclusive) 0L else -1L
      val got = ScalableRank.globalPrefixSum(df, expr("v div 100"), order,
        col("x"), "s", inclusive = inclusive, partitionBy = Seq(col("p")))
      val want = df.withColumn("s", coalesce(sum(col("x"))
        .over(w.rowsBetween(Window.unboundedPreceding, upper)), lit(0L)))
      same(got.select("id", "s"), want.select("id", "s"),
        s"inclusive=$inclusive")
    }
  }
}
