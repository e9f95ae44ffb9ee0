package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe row-frame window computation over a global time ordering.
  *
  * The reference computes `LAG(x, n) OVER (ORDER BY time)` and
  * `AVG(x) OVER (ORDER BY time ROWS BETWEEN k PRECEDING AND CURRENT ROW)`
  * (reference `infra/db/init.sql:243-251`). A literal Spark translation —
  * `Window.orderBy("time")` with no partitioning — collapses the whole
  * table into ONE partition: fine at 60k rows, fatal at 100 TB.
  *
  * This operator instead partitions by a coarse time bucket (day/month)
  * and carries a *fringe* of the trailing `fringeRows` rows preceding each
  * bucket into that bucket's partition before running the window, then
  * drops the fringe rows from the output. The per-bucket result is
  * row-for-row identical to the global window, and the sort is fully
  * parallel: each bucket sorts independently on its own executor.
  *
  * Fringe routing is driven by the *observed* bucket population: ONE
  * tiny per-bucket count aggregate is collected to the driver (bucket
  * count is small by construction — daily buckets over a century ≈ 36k
  * rows) and turned into a (source bucket → destination bucket, take
  * last-N rows) routing table embedded back as a broadcast. Gaps in the
  * bucket sequence and buckets smaller than `fringeRows` are handled
  * exactly — the fringe simply spans as many preceding buckets as
  * needed. Total cost: one count scan + the two window passes (fringe
  * extraction, final windows); no repeated aggregates, no single-
  * partition exchange on the data path.
  */
object ScalableWindow {

  private val B = "__graft_bucket"
  private val F = "__graft_fringe"

  /** Inputs at or below this row count take the single-partition window
    * directly: sorting ~10⁵ rows on one core is milliseconds, while the
    * fringe machinery costs two extra passes — the bucketed plan only
    * wins when the data is too big for one partition. The stats job that
    * drives the choice is the same per-bucket count the routing needs
    * anyway (AQE-style: observed stats pick the physical plan). */
  val SmallInputRows: Long = 1L << 17

  /** Upper bound on bucket cardinality — the routing table is a driver
    * collect + broadcast, so it must stay dimension-sized (a century of
    * daily buckets is ~36k; 128k leaves generous headroom without
    * letting a per-key bucket slip through). */
  val MaxBuckets: Int = 1 << 17

  /** Adds window columns defined against a global `orderCols` ordering.
    *
    * @param bucket      coarse bucket expression, monotone non-decreasing
    *                    in `orderCols` (e.g. `date_trunc("day", $"ts")`)
    * @param orderCols   global ordering (include a tiebreaker for determinism)
    * @param fringeRows  max lookback any `defs` column needs, in rows
    * @param smallInput  row-count threshold below which the plain global
    *                    window is used (pass 0 to force the bucketed path)
    * @param defs        (columnName, spec => column) pairs; the passed
    *                    WindowSpec is already partitioned + ordered
    */
  def withTrailingColumns(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      fringeRows: Int,
      smallInput: Long = SmallInputRows)(
      defs: (String, WindowSpec => Column)*): DataFrame = {
    val withB = df.withColumn(B, bucket)
    val spark = df.sparkSession
    val bucketType = withB.schema(B).dataType

    // one tiny job: bucket → row count, sorted by bucket value. A null
    // bucket (null in the ordering column) has no position in the global
    // order — fail fast with a clear message instead of an opaque NPE
    // from the Comparable cast below.
    // coarse-bucket contract, enforced like flagInRanges' tiny-dim one:
    // the routing table lives on the driver and is broadcast, so bucket
    // cardinality must stay dimension-sized (daily buckets over a
    // century ≈ 36k). The limit caps the collect ITSELF — a per-key
    // bucket pulls at most MaxBuckets+1 rows to the driver before the
    // require fires, never the full bucket table; when the cap holds
    // the limited collect is complete, so downstream logic is exact.
    val counts = withB.groupBy(col(B)).agg(count(lit(1)).as("__cnt"))
      .limit(MaxBuckets + 1).collect()
    require(counts.length <= MaxBuckets,
      s"ScalableWindow: more than $MaxBuckets buckets — the coarse-" +
        "bucket contract is violated; choose a coarser bucket " +
        "expression (day/week/month) so the routing table stays " +
        "driver-sized")
    require(counts.forall(_.get(0) != null),
      "ScalableWindow: bucket expression produced NULL (null rows in " +
        "the ordering column?) — filter or impute them before windowing")

    if (counts.map(_.getLong(1)).sum <= smallInput) {
      // bounded series (e.g. hourly post-aggregation): one partition is
      // the optimal physical plan, row-for-row identical by definition
      val w = Window.orderBy(orderCols: _*)
      return defs.foldLeft(df) { case (acc, (name, mk)) =>
        acc.withColumn(name, mk(w))
      }
    }

    val sorted = counts.sortWith((a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) < 0)

    // routing: for each bucket, take the last-N rows of as many
    // immediately preceding buckets as needed to cover fringeRows
    val routing = new scala.collection.mutable.ArrayBuffer[Row]
    for (j <- sorted.indices) {
      var need = fringeRows.toLong
      var i = j - 1
      while (need > 0 && i >= 0) {
        val take = math.min(sorted(i).getLong(1), need)
        routing += Row(sorted(i).get(0), sorted(j).get(0), take)
        need -= take
        i -= 1
      }
    }
    val routingDf = spark.createDataFrame(
      java.util.Arrays.asList(routing.toArray: _*),
      StructType(Seq(
        StructField("__srcB", bucketType),
        StructField("__dstB", bucketType),
        StructField("__take", LongType))))

    val rnDesc = "__graft_rn_desc"
    val fringe = withB
      .withColumn(rnDesc, row_number().over(
        Window.partitionBy(col(B)).orderBy(orderCols.map(_.desc): _*)))
      .join(broadcast(routingDf), col(B) === col("__srcB"))
      .filter(col(rnDesc) <= col("__take"))
      .withColumn(B, col("__dstB"))
      .drop("__srcB", "__dstB", "__take", rnDesc)
      .withColumn(F, lit(true))

    // orderCols are globally monotone across buckets, so fringe rows
    // (from earlier buckets) sort before the bucket's own rows
    val augmented = withB.withColumn(F, lit(false)).unionByName(fringe)
    val w = Window.partitionBy(col(B)).orderBy(orderCols: _*)
    val out = defs.foldLeft(augmented) { case (acc, (name, mk)) =>
      acc.withColumn(name, mk(w))
    }
    out.filter(!col(F)).drop(B, F)
  }
}
