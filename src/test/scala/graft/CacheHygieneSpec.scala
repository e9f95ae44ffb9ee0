package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.features.FeatureViews
import graft.ops.{Components, Dedup, Graph}

/** Cache-leak tripwire (round-15 verdict item 4): drives one
  * representative of every caching family through its release path —
  * [[Caches.scoped]] for library callers, the harness `clearCache()` for
  * the query surface (the two contracts are stated on [[Caches]]) — and
  * asserts the session-wide `CacheManager` is empty afterwards, so a
  * refactor cannot silently turn the bounded caches into a long-session
  * leak.
  */
class CacheHygieneSpec extends SparkSpecBase {
  import spark.implicits._

  private def assertNoCaches(where: String): Unit =
    assert(spark.sharedState.cacheManager.isEmpty,
      s"cache leak after $where — a bounded intermediate outlived its " +
        "release contract")

  private def docs: DataFrame = {
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    ((1L to 40L).map(i => (i, s"unique body $i with tokens t$i u$i v$i")) ++
      Seq((100L, dup), (101L, dup))).toDF("doc_id", "text")
  }

  test("scoped dedup brackets leave the cache manager empty") {
    spark.catalog.clearCache()
    Caches.scoped(Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))(
      _.count())
    assertNoCaches("scoped Dedup.minhashLshPairs")
    Caches.scoped(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      lit(0)))(_.count())
    assertNoCaches("scoped Dedup.ngramJaccardPairs")
    Caches.scoped(Dedup.substringDupFraction(docs, col("doc_id"),
      col("text"), 4))(_.count())
    assertNoCaches("scoped Dedup.substringDupFraction")
  }

  test("scoped components bracket leaves the cache manager empty") {
    spark.catalog.clearCache()
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    Caches.scoped(Components.connectedComponents(edges))(_.count())
    assertNoCaches("scoped Components.connectedComponents")
  }

  test("scoped export bracket leaves the cache manager empty") {
    spark.catalog.clearCache()
    val labeled = spark.range(300).select(
      col("id").as("event_id"),
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
        + make_interval(lit(0), lit(0), lit(0), lit(0),
          col("id").cast("int"), lit(0), lit(0))).as("ts"),
      (col("id") % 7).cast("double").as("value"),
      (col("id") % 7 * 2 + 1).cast("double").as("y"))
    Caches.scoped(graft.exports.ExportJob.splitUnified(labeled,
      date_trunc("week", col("ts")), Seq(col("ts"), col("event_id")),
      0.25, Seq("event_id", "value"), "y"))(_.values.map(_.count()).sum)
    assertNoCaches("scoped ExportJob.splitUnified")
  }

  test("scoped feature-view brackets leave the cache manager empty") {
    spark.catalog.clearCache()
    def empty(s: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    val prices = spark.range(200).select(
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
        .cast("timestamp_ntz") + make_interval(lit(0), lit(0), lit(0),
          lit(0), col("id").cast("int"), lit(0), lit(0))).as("time"),
      (lit(50.0) + (col("id") % 30).cast("double")).as("price_eur_mwh"),
      lit("10YCH-SWISSGRIDZ").as("domain"), lit("EUR").as("currency"))
    Caches.scoped(FeatureViews.trainingFeatures(prices,
      empty(Schemas.weatherHourly), empty(Schemas.entsoeGeneration),
      empty(Schemas.entsoeActualLoad),
      empty(Schemas.entsoeCrossborderFlows),
      empty(Schemas.entsoeLoadForecast)))(_.count())
    assertNoCaches("scoped FeatureViews.trainingFeatures")
  }

  test("a scope releases its caches when the build throws") {
    spark.catalog.clearCache()
    // a 5-node path needs more than one round, so the convergence
    // check throws after the edge and label caches were persisted
    val path5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Caches.scoped(Components.connectedComponents(path5, maxIter = 1))(
        _.count())
    }
    assert(e.getMessage.contains("did not converge"))
    assertNoCaches("a throwing scoped Components.connectedComponents")
  }

  test("a nested scope releases only its own caches; pageRank is " +
      "scopeable") {
    spark.catalog.clearCache()
    def readsCache(df: DataFrame): Boolean =
      df.select("*").queryExecution.withCachedData.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar
          .InMemoryRelation])
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    Caches.scoped {
      val frac = Dedup.substringDupFraction(docs, col("doc_id"),
        col("text"), 4)
      val ranks = Caches.scoped(Graph.pageRank(edges, iters = 3)) { r =>
        assert(readsCache(r))
        assert(r.count() == 4L)
        r
      }
      (frac, ranks)
    } { case (frac, ranks) =>
      assert(!readsCache(ranks), "the inner scope kept PageRank's caches")
      assert(readsCache(frac),
        "the inner scope released a cache of the enclosing scope")
      assert(frac.count() == docs.count())
    }
    assertNoCaches("nested scopes")
  }

  test("representative harness queries: caches exist while running, and " +
      "the harness clearCache releases every one of them") {
    spark.catalog.clearCache()
    // the two heaviest cachers on the query surface: the full minhash
    // tier (shingle base + band keys) and the feature view (seven
    // cached hourly series)
    for (key <- Seq("dedup_cluster_canonical", "feature_training_view")) {
      SparkEntry.queries(key)(spark, sf())
        .write.format("noop").mode("overwrite").save()
      assert(!spark.sharedState.cacheManager.isEmpty,
        s"$key is expected to persist bounded intermediates — if this " +
          "fails the query went cache-free and this spec should track " +
          "a different representative")
      spark.catalog.clearCache() // the Bench/Verify per-query contract
      assertNoCaches(s"harness run of $key + clearCache")
    }
  }
}
