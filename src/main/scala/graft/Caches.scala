package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one place that decides how long a persisted intermediate lives.
  *
  * Operators that read an intermediate more than once (dedup shingle
  * bases, the components edge and label tables, PageRank's augmented
  * edge list, feature-view series, export labels, training frames)
  * persist it through [[persist]]. Spark keeps a persisted relation in
  * the session's `CacheManager` until someone unpersists it, and an
  * operator cannot do that itself: its returned plan still reads the
  * cache. So the caller releases it, under one of two contracts:
  *
  *  - harness: the query surface (`SparkEntry.queries`, run by Verify,
  *    Bench, Soak and the benchmark) opens no scope; its caches stay in
  *    the session until the harness calls `spark.catalog.clearCache()`
  *    after every query;
  *  - scoped: a library caller that runs ops in a long-lived session
  *    wraps them in [[scoped]], which unpersists everything its `build`
  *    persisted once `use` has consumed the result, also when either
  *    throws. `use` must consume the result (count, collect, write,
  *    or feed an op that materializes what it needs): a lazy plan
  *    returned from the scope no longer finds its caches and recomputes
  *    them.
  */
object Caches {

  /** Caches registered in the innermost open scope of this thread (and
    * of threads it starts); null outside any scope.
    */
  private val innermost =
    new DynamicVariable[ConcurrentLinkedQueue[DataFrame]](null)

  /** `df.persist(MEMORY_AND_DISK)` (spills rather than fails at scale),
    * registered in the innermost open scope.
    */
  def persist(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    val scope = innermost.value
    if (scope != null) scope.add(cached)
    cached
  }

  /** Evaluates `use(build)` and then unpersists every cache persisted
    * while `build` ran, also when `build` or `use` throws. Caches that
    * `use` persists belong to the enclosing scope, or to the harness
    * outside any scope: an op run on the result (a components loop on
    * a pair list, say) keeps the caches its own returned plan reads.
    * A scope opened inside `build` releases only its own caches.
    */
  def scoped[R, T](build: => R)(use: R => T): T = {
    val scope = new ConcurrentLinkedQueue[DataFrame]()
    try use(innermost.withValue(scope)(build))
    finally Iterator.continually(scope.poll())
      .takeWhile(_ != null).foreach(_.unpersist())
  }
}
