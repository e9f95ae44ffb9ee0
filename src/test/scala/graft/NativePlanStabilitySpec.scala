package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftnative.GraftNative._

/** Plan stability of the native codegen'd expressions: each consumer
  * query's OPTIMIZED plan must actually carry the native expression. A
  * refactor that silently fell back to the composable/interpreted HOF
  * forms would be invisible to every correctness spec (the forms are
  * bit-identical by construction) while costing the measured ~3× CPU of
  * the scan-side hot path at corpus scale — this suite is the tripwire.
  * Cached subtrees count: `dedup_minhash_lsh` persists its shingle+md5
  * base, so the md5 pass lives inside the InMemoryRelation's cached
  * physical plan, which plain `optimizedPlan.expressions` would miss.
  */
class NativePlanStabilitySpec extends SparkSpecBase {

  private def exprHas(e: Expression, p: Expression => Boolean): Boolean =
    e.exists(p) || e.exists {
      case pe: PlanExpression[_] => pe.plan match {
        case lp: LogicalPlan => logicalHas(lp, p)
        case sp: SparkPlan => physicalHas(sp, p)
        case _ => false
      }
      case _ => false
    }

  private def logicalHas(lp: LogicalPlan, p: Expression => Boolean): Boolean =
    lp.exists { n =>
      n.expressions.exists(exprHas(_, p)) || (n match {
        case imr: InMemoryRelation => physicalHas(imr.cachedPlan, p)
        case _ => false
      })
    }

  private def physicalHas(sp: SparkPlan, p: Expression => Boolean): Boolean =
    sp.exists { n =>
      n.expressions.exists(exprHas(_, p)) || (n match {
        // AQE wrappers are leaf nodes — descend explicitly
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          physicalHas(a.inputPlan, p)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          physicalHas(q.plan, p)
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          physicalHas(s.relation.cachedPlan, p)
        case _ => false
      })
    }

  private def assertNative(
      q: String, wanted: Map[String, Expression => Boolean]): Unit = {
    val df: DataFrame = SparkEntry.queries(q)(spark, sf())
    val plan = df.queryExecution.optimizedPlan
    for ((name, p) <- wanted)
      assert(logicalHas(plan, p),
        s"$q: native $name missing from optimized plan:\n$plan")
  }

  test("dedup_containment_prefix runs ShingleArray + CollectListCapped") {
    assertNative("dedup_containment_prefix", Map(
      "ShingleArray" -> (_.isInstanceOf[ShingleArray]),
      "CollectListCapped" -> (_.isInstanceOf[CollectListCapped])))
  }

  test("ann_bruteforce scores with FloatDotProduct") {
    assertNative("ann_bruteforce", Map(
      "FloatDotProduct" -> (_.isInstanceOf[FloatDotProduct])))
  }

  test("dedup_minhash_lsh hashes with Md5Base28Array + MinHashSignature " +
      "over ShingleArray (inside the cached subtree), bands with " +
      "MinHashBandKeys and verifies with ArrayIntersectSize") {
    try assertNative("dedup_minhash_lsh", Map(
      "ShingleArray" -> (_.isInstanceOf[ShingleArray]),
      "Md5Base28Array" -> (_.isInstanceOf[Md5Base28Array]),
      "MinHashSignature" -> (_.isInstanceOf[MinHashSignature]),
      "MinHashBandKeys" -> (_.isInstanceOf[MinHashBandKeys]),
      "ArrayIntersectSize" -> (_.isInstanceOf[ArrayIntersectSize])))
    finally spark.catalog.clearCache()
  }

  test("dedup_simhash hashes with the fused Simhash60 (inside the " +
      "guarded form's cached subtree)") {
    try assertNative("dedup_simhash", Map(
      "Simhash60" -> (_.isInstanceOf[Simhash60])))
    finally spark.catalog.clearCache()
  }

  test("mm_audio_window extracts samples with BytesToIntArray") {
    assertNative("mm_audio_window", Map(
      "BytesToIntArray" -> (_.isInstanceOf[BytesToIntArray])))
  }

  // every remaining consumer of the LSH-family native tier: the −85%
  // sf10 CPU cuts ride on ALL of them — a fallback in any one member
  // would be invisible to correctness (composable forms bit-identical)
  // and silently pay the interpreted-HOF tax at corpus scale

  private val minhashNatives: Map[String, Expression => Boolean] = Map(
    "ShingleArray" -> (_.isInstanceOf[ShingleArray]),
    "Md5Base28Array" -> (_.isInstanceOf[Md5Base28Array]),
    "MinHashSignature" -> (_.isInstanceOf[MinHashSignature]),
    "MinHashBandKeys" -> (_.isInstanceOf[MinHashBandKeys]),
    "ArrayIntersectSize" -> (_.isInstanceOf[ArrayIntersectSize]))

  test("dedup_threshold_sweep carries the full native minhash tier") {
    try assertNative("dedup_threshold_sweep", minhashNatives)
    finally spark.catalog.clearCache()
  }

  test("dedup_cluster_canonical's pair generation carries the full " +
      "native minhash tier") {
    // the query's OUTPUT plan cannot carry the natives: connected
    // components cuts lineage every round (createDataFrame over the
    // materialized RDD — see Components.cutLineage), so the scan-side
    // expressions live only in the edge plan fed INTO the loop. Pin
    // that plan via the same helper call the query makes
    // (SparkEntry dedup_cluster_canonical → Dedup.minhashLshPairs,
    // threshold 0.5) — a fallback inside the helper trips this.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf())
    try Caches.scoped(graft.ops.Dedup.minhashLshPairs(docs, col("doc_id"),
      col("text"), threshold = 0.5)) { pairs =>
      val plan = pairs.queryExecution.optimizedPlan
      for ((name, p) <- minhashNatives)
        assert(logicalHas(plan, p),
          s"dedup_cluster_canonical pair generation: native $name " +
            s"missing from optimized plan:\n$plan")
    }
    finally spark.catalog.clearCache()
  }

  test("dedup_containment carries the native minhash tier incl. the " +
      "ArrayIntersectSize containment verify") {
    try assertNative("dedup_containment", minhashNatives)
    finally spark.catalog.clearCache()
  }

  test("ann_lsh scores candidates with FloatDotProduct") {
    try assertNative("ann_lsh", Map(
      "FloatDotProduct" -> (_.isInstanceOf[FloatDotProduct])))
    finally spark.catalog.clearCache()
  }

  test("sql_topk_similarity resolves graft_float_dot to FloatDotProduct") {
    assertNative("sql_topk_similarity", Map(
      "FloatDotProduct" -> (_.isInstanceOf[FloatDotProduct])))
  }
}
