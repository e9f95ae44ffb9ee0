package graft.serving

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, Relational, ScalableRank}

/** The reference API's read queries (SURVEY §3.3, `src/api/main.py`) as
  * named DataFrame functions over the same tables — the serving surface a
  * Spark Connect / cached-DataFrame deployment would expose. Thin
  * compositions of the core ops. Most reads end in limit/TakeOrdered or
  * a tiny aggregate; `chartSeries` does not — its global row numbering
  * (`ScalableRank.globalRowNumber`) shuffles every input row before the
  * stride filter keeps `maxPoints` of them.
  */
object Serving {

  /** `GET /api/forecast` feature row: latest row of the feature view
    * (`main.py:277-291` — `ORDER BY time DESC LIMIT 1`). */
  def latestFeatureRow(features: DataFrame, timeCol: Column): DataFrame =
    features.orderBy(timeCol.desc).limit(1)

  /** `GET /api/price-history`: last n rows re-sorted ascending
    * (`main.py:355-372`). */
  def priceHistory(prices: DataFrame, timeOrder: Seq[Column], n: Int): DataFrame =
    Relational.lastNAscending(prices, timeOrder, n)

  /** `GET /api/db-status`: per-table (count, min(time), max(time))
    * (`main.py:380-398`). */
  def tableStatus(df: DataFrame, timeCol: Column): DataFrame =
    Aggregates.countMinMax(df, timeCol)

  /** `GET /api/db-explorer/rows`: LIMIT/OFFSET pagination
    * (`main.py:429-452`). */
  def page(df: DataFrame, order: Seq[Column], offset: Int, limit: Int): DataFrame =
    Relational.page(df, order, offset, limit)

  /** `GET /api/timeseries/{table}` numeric-column discovery minus a
    * skip-set (`main.py:494-519`) — schema introspection, zero jobs.
    * Matches every numeric type (incl. decimal/short/byte), mirroring
    * the reference's information_schema numeric whitelist. */
  def numericColumns(df: DataFrame, skip: Set[String]): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        && !skip.contains(f.name) => f.name
    }.toSeq

  /** `GET /api/feature-status`: filtered non-null counts over the feature
    * frame (`main.py:591-597`). */
  def featureStatus(features: DataFrame, cols: Seq[String]): DataFrame =
    Aggregates.filteredCounts(features,
      cols.map(c => s"n_$c" -> col(c).isNotNull): _*)

  /** `GET /api/rate-limits`: per-source call counts + rate-limited stats
    * over the call log within a lookback window (`main.py:663-744`). */
  def rateLimitStats(
      callLog: DataFrame,
      calledAt: Column,
      since: Column): DataFrame =
    callLog.filter(calledAt >= since)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_calls"),
        count(when(col("was_rate_limited"), lit(1))).as("n_limited"),
        max(when(col("was_rate_limited"), calledAt)).as("last_limited_at"))

  /** Chart payload: stride-downsampled to at most `maxPoints`
    * (`main.py:1038-1045`). */
  def chartSeries(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      maxPoints: Int): DataFrame =
    ScalableRank.downsampleStride(df, bucket, order, maxPoints)
}
