package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.functions.Portable.r6

/** Iterative graph analytics in DataFrame form.
  *
  * The reference has no graph operator, but a 100 TB training-data
  * pipeline does: link-graph centrality is a standard quality prior for
  * web-scraped corpora (rank pages/hosts, keep the head, drop the spam
  * tail). This is the Pregel shape expressed as DataFrame joins —
  * the same plan GraphX/GraphFrames lower to, without the dependency.
  *
  * Determinism contract (oracle-verifiable): ranks are integer-scaled
  * (`scale` = one rank unit), every per-iteration contribution is an
  * integer division `rank div out_degree`, and the damping step is
  * integer arithmetic `base + (85 * sum) div 100` — exact under any
  * aggregation order, so Spark and an ANSI-SQL oracle agree bit-for-bit
  * at every scale factor. (Float PageRank sums are order-dependent;
  * the usual 1e-6 tolerance compare is exactly what the harness's
  * hash-equality gate does not do.)
  */
object Graph {

  /** Fixed-iteration damped PageRank over `edges` (`src`, `dst`; callers
    * pass DISTINCT edges). Unnormalized variant: every node starts at
    * `scale`, the teleport term is `floor(0.15 * scale)` per node, and
    * dangling mass is dropped (sink nodes contribute nothing) — the
    * standard simplification when ranks are used as a relative quality
    * ordering, which is how corpus filtering consumes them.
    *
    * Scale shape: the edge list is augmented with out-degrees once and
    * hash-partitioned by `src`, so each iteration's rank join shuffles
    * only the (node-sized) rank table, never the edge list; the
    * contribution aggregation is a map-side-combinable sum keyed by
    * `dst`. Iteration count is fixed (no driver-side convergence
    * collect) — the whole run is one declarative plan. The returned
    * plan reads two caches, released under the [[graft.Caches]]
    * contracts.
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, "bounded fixed-iteration contract")
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // one shuffle each for the degree join and the src partitioning; the
    // persisted result is reused by every iteration
    val ewd = persist(e.join(deg, Seq("src"))
      .repartition(spark.sparkContext.defaultParallelism, col("src")))
    // node set from the CACHED augmented edge list (r18): ewd's inner
    // degree join keeps every edge row, so its endpoint set is exactly
    // e's — reading the cache twice replaces two more executions of the
    // (often expensive) upstream edge pipeline
    val nodes = persist(ewd.select(col("src").as("node"))
      .union(ewd.select(col("dst").as("node"))).distinct())
    val base = scale * 15 / 100
    var ranks = nodes.withColumn("rank", lit(scale))
    (1 to iters).foreach { _ =>
      // contributions and the dangling-node floor fold into ONE
      // aggregate (r18): zero-contribution rows for every node ride a
      // union branch, so the old per-iteration groupBy + left-join-back
      // pair (two node-sized exchanges + a join) becomes a single
      // keyed sum — integer arithmetic, identical ranks
      ranks = ewd
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div __deg").as("__c"))
        .unionByName(nodes.select(col("node"), lit(0L).as("__c")))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
        .select(col("node"),
          (lit(base) + expr("(85 * __s) div 100")).as("rank"))
    }
    ranks
  }

  /** Part co-order graph of `lineitem` at support ≥ 2: canonical edges
    * (`a` < `b`) between parts ordered together in at least two orders.
    */
  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // ONE exchange feeds dedup AND the ok-keyed self-join (r19):
      // hash partitioning on ok (a subset of the distinct's keys)
      // co-locates equal (ok, pk) rows, so the distinct reuses it,
      // and both self-join sides are already clustered on ok — the
      // old distinct() shuffled by (ok, pk) and the join then
      // re-shuffled both sides by ok (guide §2.4)
      .repartition(col("ok"))
      .distinct()
    li.as("x")
      .join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
      .agg(count(lit(1)).as("__sup"))
      .filter(col("__sup") >= 2)
      .select(col("a"), col("b"))
  }

  /** Exact triangle count over an undirected graph given as canonical
    * edges (`a` < `b`, distinct), attributed to each triangle's
    * smallest node id. The clustering signal behind cohesion metrics
    * and spam-farm detection on link graphs.
    *
    * Distributed shape — degree-oriented wedge counting: every edge is
    * re-oriented from its (degree, id)-smaller endpoint, so a wedge
    * pivot only fans out over its HIGHER-degree-or-id neighbors — the
    * classic bound of Σ C(d⁺, 2) ≈ O(m^1.5) total wedges on any graph,
    * versus Σ C(d, 2) under naive id orientation, which explodes on the
    * hubs every real co-occurrence graph has (measured here: 31 s →
    * ~2 s at sf0.1, where hot parts co-order with hundreds of others).
    * Under the (degree, id) total order each triangle has exactly one
    * pivot with two out-edges, and its closing edge is oriented
    * y→z by construction — one equi-join to probe. Every step is a
    * shuffled hash equi-join on node keys; never a cartesian.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val closed = closedWedges(e, degrees(e))
    closed
      .select(least(col("x"), col("y"), col("z")).as("x"))
      .groupBy(col("x"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Node degrees of a canonical undirected edge list. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** The (x, y, z) triangle stream behind [[triangleCount]]: edges
    * re-oriented from the (degree, id)-smaller endpoint, wedges pivoted
    * over out-neighbor pairs, closed by one equi-join (see the
    * orientation argument on [[triangleCount]]). Shared so callers that
    * need OTHER degree-derived statistics (the clustering coefficient's
    * wedge sum) reuse the same `deg` subtree instead of recomputing it.
    */
  private def closedWedges(e: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val swap = struct(col("db"), col("b")) < struct(col("da"), col("a"))
    val o = withDeg.select(
      when(swap, col("b")).otherwise(col("a")).as("u"),
      when(swap, col("a")).otherwise(col("b")).as("v"),
      when(swap, col("da")).otherwise(col("db")).as("dv"))
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.u") === col("e2.u") &&
        (col("e1.dv") < col("e2.dv") ||
          (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"),
        col("e2.v").as("z"))
    wedges.join(
      o.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
  }

  /** Global (transitivity) clustering coefficient: 3·triangles /
    * wedges, with the supporting counts. One row:
    * (n_edges, n_wedges, n_triangles, clustering_coeff).
    *
    * Shape (measured, round 14): NO cache and NO per-node triangle
    * groupBy — the degree table feeds BOTH the wedge sum Σ C(d,2) and
    * the triangle orientation, triangles are counted directly off the
    * closed-wedge stream, and the repeated edge subtrees dedupe via
    * ReuseExchange. The previous formulation persisted the edge list
    * and summed [[triangleCount]]'s per-node output; the
    * InMemoryRelation round-trip plus its extra aggregate measured 3×
    * the CPU at sf0.1 (52–60 vs 17–21 CPU-s) and +18–30% at sf1 in a
    * same-JVM interleaved A/B — the cache bought nothing because the
    * consumers' shared subtrees already reuse exchanges, and an
    * InMemoryRelation boundary is precisely what ReuseExchange cannot
    * see through.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val deg = degrees(e)
    val tri = closedWedges(e, deg).agg(count(lit(1)).as("t"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val wedgeSum = deg
      .agg(sum(col("d") * (col("d") - 1) / 2).cast("long").as("w"))
    nEdges.crossJoin(broadcast(wedgeSum))
      .crossJoin(broadcast(tri))
      .select(col("n_edges"), col("w").as("n_wedges"),
        col("t").as("n_triangles"),
        r6(lit(3.0) * col("t") / col("w")).as("clustering_coeff"))
  }
}
