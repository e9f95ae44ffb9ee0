package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract — one named query per implemented operator of
  * SURVEY.md §2 (the key names are the §2 inventory keys), exercised on
  * the TPC-H-ish testdata tables with a DuckDB-checkable oracle.
  *
  * The queries live in `graft.queries`, one object per operator family
  * named by key prefix (`RelationalQueries` … `GraphQueries`); each
  * registers `Q(key, plan, oracle)` entries in a `queries` list, and a
  * builder that two or more families use lives in `queries/Shared.scala`.
  * This object concatenates the families and serves the contract:
  * `queries`, `orderedQueries`, `oracleSql` and the flagship `entry`.
  *
  * Conventions shared by every query/oracle pair (see SURVEY.md §7.4):
  *  - `events.ts` physical encoding varies by testdata generation
  *    (ns-INT64 vs timestamp[us]) → Spark adapts on read
  *    (Tables.events); DuckDB oracles `CAST(ts AS TIMESTAMP)`, correct
  *    under either encoding.
  *  - every aggregate of doubles is rounded to 6 dp on both sides via
  *    the portable guarded floor form (`Portable.r6` / its SQL twin
  *    `Portable.r6Sql`, which the oracles call) —
  *    NOT `round(x, 6)`: Spark's BigDecimal HALF_UP and DuckDB's C
  *    round flip in opposite directions on boundary doubles (six r15
  *    fuzz catches; the whole class was retired in r16). The sum order
  *    still differs between engines by design — partial aggregation.
  *  - the micro-unit exact-sum convention (round 12, fuzz-driven): where
  *    a raw double sum/mean is order-sensitive at the round(6) boundary,
  *    both engines quantize per row FIRST — `floor(x*1e6 + 0.5)` as an
  *    integer — sum the integers exactly, and divide by 1e6 once. Two
  *    deliberate semantic consequences for query authors: (a) rounding
  *    is half-toward-+infinity, NOT half-away-from-zero — negatives
  *    differ at exact .5 micro boundaries (-0.0000005 → -0.0, where
  *    ROUND/HALF_UP gives -0.000001); (b) values are quantized to
  *    micros BEFORE aggregation, so inputs with >6 decimals contribute
  *    their quantized value, not their raw value, to the sum. Both are
  *    the point: a single portable integer convention beats per-engine
  *    float summation that diverges by partial-aggregation order.
  *  - orderings carry an explicit unique tiebreaker (`event_id`) so
  *    limit/offset/window results are deterministic sets.
  */
object SparkEntry {

  /** Every registered query, family by family. */
  private val all: Seq[Q] =
    RelationalQueries.queries ++ AggQueries.queries ++ WindowQueries.queries ++
      FeatureQueries.queries ++ QualityQueries.queries ++
      StreamQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      MediaQueries.queries ++ GraphQueries.queries

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, "/root/testdata/sf0.001")

  /** The flagship over the tables of `sfDir`: a condensed §3.2
    * feature-pipeline spine — filter → join → window lag/rolling →
    * grouped aggregation.
    */
  def entry(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    li.join(o.select(col("l_orderkey"), col("o_totalprice")),
        Seq("l_orderkey"), "left")
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"), avg(col("prev_qty")).as("avg_prev_qty"))
  }

  /** Every query in registration order: family by family, each family
    * in its own declaration order. `queries` hashes its keys, so its
    * iteration order is arbitrary AND changes whenever a key is added —
    * a benchmark that iterates it runs the suite in a different order
    * every round, which makes per-query times incomparable across rounds
    * (JVM age, GC pressure, and codegen-cache state at query N depend on
    * everything that ran before it). Bench iterates this. */
  lazy val orderedQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    all.map(q => q.key -> q.fn)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    orderedQueries.toMap

  lazy val oracleSql: Map[String, String] =
    all.map(q => q.key -> q.oracle.replaceAll("\\s+", " ").trim).toMap
}
