package graft.serving

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TableFacts
import graft.ops.{Aggregates, Relational, ScalableRank}

/** The reference API's read queries (SURVEY §3.3, `src/api/main.py`) as
  * named DataFrame functions over the same tables — the serving surface a
  * Spark Connect / cached-DataFrame deployment would expose. Thin
  * compositions of the core ops. Most reads end in limit/TakeOrdered or
  * a tiny aggregate.
  *
  * Three reads are served from [[graft.TableFacts]], facts about the
  * input's files memoized on the files' fingerprint, when the input is a
  * bare parquet scan; each falls back to exactly its plain plan
  * otherwise. `chartSeries` numbers rows in the global order: a proof
  * that the parquet files hold the rows in that order makes the stride a
  * filter on `_metadata.row_index` with no shuffle, and the proof's facts
  * are memoized, so only the first call on a table's files runs its
  * proof job; without the proof `ScalableRank.downsampleStride` falls
  * back to the bucket-offset numbering, which shuffles every row.
  * `tableStatus` answers from the same stored-order facts and
  * `featureStatus` from the parquet footers' row and null counts, each
  * starting no job once the facts are warm.
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
    * (`main.py:380-398`). From the stored-order facts of `Seq(timeCol)`
    * when `timeCol` is an attribute of a bare scan whose keys never fall
    * and whose first key is not null (ascending puts nulls first, so
    * then there are none); otherwise the aggregate. */
  def tableStatus(df: DataFrame, timeCol: Column): DataFrame = {
    val agg = Aggregates.countMinMax(df, timeCol)
    val t = agg.schema("min_ts").dataType
    val attribute = df.select(timeCol).queryExecution.analyzed match {
      case Project(Seq(_: Attribute), _) => true
      case _ => false
    }
    val facts =
      if (attribute && exactOrder(t)) ScalableRank.storedOrder(df, Seq(timeCol), memoOnly = true)
      else None
    facts.flatMap(o => o.keyRange(t).map { case (lo, hi) =>
      answer(agg, Seq(o.n, lo, hi)) }).getOrElse(agg)
  }

  /** A one-row frame with `plan`'s schema holding `values` (Catalyst
    * values): the answer `plan` computes, as a local relation whose
    * collect starts no job. */
  private def answer(plan: DataFrame, values: Seq[Any]): DataFrame = {
    val schema = plan.schema
    val row = Row.fromSeq(values.zip(schema.fields).map { case (v, f) =>
      CatalystTypeConverters.convertToScala(v, f.dataType) })
    plan.sparkSession.createDataFrame(java.util.List.of(row), schema)
  }

  /** Key types whose order ties only equal values, so the first and
    * last key of an ordered scan are exactly its min and max (a float
    * order ties -0.0 with 0.0; a collated string order ties distinct
    * strings). */
  private def exactOrder(t: DataType): Boolean = t match {
    case DateType | TimestampType | TimestampNTZType |
        ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

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
    * frame (`main.py:591-597`). From the parquet footers' row and null
    * counts when `TableFacts.nonNullCounts` has them; otherwise the
    * aggregate. */
  def featureStatus(features: DataFrame, cols: Seq[String]): DataFrame = {
    val agg = Aggregates.filteredCounts(features,
      cols.map(c => s"n_$c" -> col(c).isNotNull): _*)
    TableFacts.nonNullCounts(features, cols).fold(agg) { case (n, nonNull) =>
      answer(agg, n +: nonNull)
    }
  }

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
    * (`main.py:1038-1045`); `bucket` is read only on the fallback. */
  def chartSeries(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      maxPoints: Int): DataFrame =
    ScalableRank.downsampleStride(df, bucket, order, maxPoints)
}
