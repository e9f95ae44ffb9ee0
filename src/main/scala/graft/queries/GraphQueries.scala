package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import graft.functions.Portable
import Shared._

/** Graph keys (`graph_*`). */
private[graft] object GraphQueries {

  /** DuckDB twin of `Graph.coOrderEdges`: CTEs `li(ok, pk)` and the
    * part pairs co-ordered at least twice, `e(a, b)` with a < b. */
  private val coOrderEdgesSql =
    """li AS (SELECT DISTINCT l_orderkey AS ok,
           l_partkey AS pk FROM lineitem),
       e AS (SELECT x.pk AS a, y.pk AS b
         FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY 1, 2 HAVING count(*) >= 2)"""

  val queries: Seq[Q] = Seq(
    // Link-graph centrality as a corpus-quality prior: integer-scaled
    // damped PageRank (ops/Graph.scala) over the bipartite user→item
    // interaction graph derived from events (item space = event_id mod
    // 997). Three fixed iterations, top-100 by (rank, node) — a
    // deterministic SET, so the driver's sorted-hash compare holds.
    Q("graph_pagerank",
      (s, d) => {
        val edges = ev(s, d)
          .select(col("user_id").as("src"),
            (lit(1000000L) + col("event_id") % 997).as("dst"))
          // ONE exchange feeds dedup and pageRank's src-keyed degree
          // join (r19, the graph_triangles convention): src-hash
          // partitioning co-locates equal (src, dst) rows for the
          // distinct and already satisfies the degree groupBy and the
          // out-degree join inside pageRank
          .repartition(col("src"))
          .distinct()
        Graph.pageRank(edges, iters = 3)
          .orderBy(desc("rank"), asc("node")).limit(100)
      },
      """WITH edges AS (SELECT DISTINCT user_id AS src,
                  1000000 + event_id % 997 AS dst FROM events),
              nodes AS (SELECT src AS node FROM edges
                UNION SELECT dst AS node FROM edges),
              deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
              r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
              s1 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r0 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r1 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s1 ON n.node = s1.node),
              s2 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r1 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r2 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s2 ON n.node = s2.node),
              s3 AS (SELECT e.dst AS node, sum(r.r // g.d) AS s
                FROM edges e JOIN r2 r ON e.src = r.node
                JOIN deg g ON e.src = g.src GROUP BY 1),
              r3 AS (SELECT n.node,
                  CAST(150000 + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS r
                FROM nodes n LEFT JOIN s3 ON n.node = s3.node)
              SELECT node, r AS rank FROM r3
              ORDER BY r DESC, node LIMIT 100"""),

    // Exact triangle counting (ops/Graph.triangleCount) over the part
    // co-order graph at support ≥ 2 (pairs co-ordered at least twice —
    // the association-rule convention, and the scale guard: the
    // unthresholded graph is near-uniform dense at ~2× the order count
    // in edges, and triangle counting is Θ(Σ C(d⁺,2)) wedges on ANY
    // engine — measured 31 s at sf0.1 vs ~1 s thresholded, with the
    // expensive half, the 1.2M-row co-order pair aggregation, still
    // fully exercised). Edge canonicalization a<b; wedges pivot at the
    // (degree, id)-smallest endpoint and close with one equi-join.
    Q("graph_triangles",
      (s, d) => {
        val edges = Graph.coOrderEdges(Tables.lineitem(s, d))
        // lazy localCheckpoint (r19, VERDICT r18 item 4): triangleCount
        // references the edge relation ~9x (orientation, both wedge
        // sides, the closing probe), so the planner replicated this
        // whole co-order self-join subtree per reference — runtime
        // exchange reuse deduped the EXECUTION but the planner/AQE cost
        // was real. The checkpoint truncates every consumer's plan to
        // an aggregate-sized RDD leaf computed once. persist() was the
        // wrong tool here twice (r14, r18: InMemoryRelation blocks
        // runtime exchange reuse and re-materializes); the RDD-level
        // checkpoint leaves no InMemoryRelation in the plan.
        Graph.triangleCount(edges.localCheckpoint(false))
      },
      s"""WITH $coOrderEdgesSql,
              w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b)
              SELECT least(w.x, w.y, w.z) AS x, count(*) AS n_triangles
              FROM w JOIN e ON e.a = w.y AND e.b = w.z
              GROUP BY 1"""),

    // Global clustering coefficient 3T/W over the co-order part graph
    // (same support-thresholded edges as graph_triangles) — the
    // one-number "is this graph clumpy or random" readout. Wedge count
    // is a degree aggregate; the triangle count reuses the
    // degree-oriented wedge join.
    Q("graph_clustering_coeff",
      (s, d) => {
        val edges = Graph.coOrderEdges(Tables.lineitem(s, d))
        // lazy localCheckpoint — same rationale as graph_triangles
        // (r19): clusteringCoefficient references the edge relation
        // ~11x (degrees, orientation x3 consumers, nEdges, wedge sum);
        // the checkpoint collapses the replicated self-join subtree to
        // one RDD leaf. See graph_triangles for the persist-vs-
        // checkpoint history.
        Graph.clusteringCoefficient(edges.localCheckpoint(false))
      },
      s"""WITH $coOrderEdgesSql,
              deg AS (SELECT n, count(*) AS d FROM (
                  SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1),
              wedges AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg),
              wd AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b),
              tri AS (SELECT count(*) AS t FROM wd
                JOIN e ON e.a = wd.y AND e.b = wd.z)
              SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
                CAST(wedges.w AS BIGINT) AS n_wedges,
                CAST(tri.t AS BIGINT) AS n_triangles,
                ${Portable.r6Sql("3.0 * tri.t / wedges.w")} AS clustering_coeff
              FROM wedges, tri"""),

    // Degree histogram of the same graph — the first thing anyone
    // plots before trusting any graph statistic (and the input to a
    // power-law eyeball). Two keyed aggregates.
    Q("graph_degree_histogram",
      (s, d) => Graph.coOrderEdges(Tables.lineitem(s, d))
        .select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")),
      s"""WITH $coOrderEdgesSql,
              deg AS (SELECT n, count(*) AS degree FROM (
                  SELECT a AS n FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1)
              SELECT degree, count(*) AS n_nodes
              FROM deg GROUP BY 1"""),
  )
}
