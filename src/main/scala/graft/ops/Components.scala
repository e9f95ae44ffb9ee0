package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Caches.persist

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise dedup output (`Dedup.minhashLshPairs` etc.) into
  * dedup GROUPS: every document gets the minimum reachable doc id as
  * its component label, and the label is the cluster's canonical
  * representative.
  *
  * Algorithm: iterative min-label propagation. Each round every node
  * takes the min of its own label and its neighbors' labels; the loop
  * stops at a fixed point, detected from the exact decimal label sum
  * that the round's materializing job already computes (labels are
  * monotone decreasing, so an unchanged sum ⟺ nothing changed — no
  * separate compare job; see [[cutLineage]]). Rounds needed =
  * graph diameter, and near-duplicate clusters are dense/shallow by
  * construction (a dup cluster's diameter is tiny), so convergence is a
  * handful of rounds. Per round the work is one equi-join of the edge
  * list with the label table plus a single min-aggregate (the node's
  * own label rides a union branch into the same aggregate) — the edge
  * list is hash-partitioned by `dst` once and never re-shuffled (r18:
  * the join reuses the cached partitioning, and the label side carries
  * a shuffle-hash hint so no round sorts the edge list), so each round
  * moves only node-sized label rows. No driver-side data. For
  * adversarial long-chain graphs use the alternating large-star/
  * small-star contraction instead; for dedup clustering this simple
  * variant is the right cost profile.
  *
  * Caches: the symmetric edge list and the current labels persist
  * during the loop, and intermediates unpersist as soon as superseded.
  * The final label cache backs the returned plan; it is released under
  * the [[graft.Caches]] contracts.
  */
object Components {

  /** Materialize `df` and return a lineage-free view of it plus the
    * backing cached frame (for explicit release). Iterative algorithms
    * MUST cut lineage every round: `persist` caches data but the
    * logical plan still nests the whole history, so by round ~10 the
    * optimizer is walking an exponentially-sized tree (observed: OOM in
    * plan stringification on a 9-round chain). Rebuilding from the
    * materialized RDD makes each round's plan a flat scan.
    *
    * The materializing job doubles as the convergence probe: it returns
    * the exact decimal sum of `label` (decimal so no ANSI overflow at
    * any node count). Labels only ever decrease, so an unchanged sum ⟺
    * a fixed point — no separate compare-join job per round.
    */
  private def cutLineage(df: DataFrame): (DataFrame, DataFrame, BigDecimal) = {
    val backing = persist(df)
    val labelSum = Option(
      backing.agg(sum(col("label").cast("decimal(38,0)"))).first().get(0))
      .map(d => BigDecimal(d.asInstanceOf[java.math.BigDecimal]))
      .getOrElse(BigDecimal(0))
    (backing.sparkSession.createDataFrame(backing.rdd, backing.schema),
      backing, labelSum)
  }

  /** Lineage cut for the (label-less) edge list. */
  private def cutEdges(df: DataFrame): (DataFrame, DataFrame) = {
    val backing = persist(df)
    backing.count()
    (backing.sparkSession.createDataFrame(backing.rdd, backing.schema),
      backing)
  }

  /** @param edges (id_a, id_b) pair rows, any orientation, dups allowed
    * @return (id, component) — component = min reachable id
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // materialize the DIRECTED pairs first: the input is typically an
    // expensive pipeline (e.g. the full MinHash candidate generation),
    // and referencing it in both union branches would execute that
    // whole plan twice — Spark does not dedupe identical subplans
    // across a union. Symmetrization then reads the cached cut twice.
    val (pairsCut, pairsBacking) = cutEdges(edges
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst")))
    // Symmetric edge list, NOT distinct'd (r18): min-propagation is
    // duplicate-insensitive, so the distinct was a full shuffle of the
    // largest intermediate bought for nothing. Hash-partitioned by
    // `dst` once and persisted as a DataFrame (a plain persist keeps
    // outputPartitioning metadata where the old RDD round-trip erased
    // it): the per-round label join is keyed on `dst`, so the edge
    // list — the big side at corpus scale — is never re-shuffled; only
    // the node-sized label table moves each round. Its plan is flat
    // (scan of the pairs cut + union), so the lineage-growth reason
    // for the RDD round-trip does not apply to it. Materialized by the
    // init-labels job below — no separate count pass.
    val symBacking = persist(pairsCut
      .unionByName(pairsCut.select(col("dst").as("src"),
        col("src").as("dst")))
      .repartition(col("dst")))
    val sym = symBacking
    // initial labels fold round 1 in: every node appears as `src` in the
    // symmetric edge list, so one aggregate yields both the node set and
    // min(self, direct neighbors) — one shuffle replaces the distinct
    // job plus the first join round of the loop
    var (labels, labelsBacking, labelSum) = cutLineage(
      sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("label"))
        .withColumnRenamed("src", "id"))
    pairsBacking.unpersist()

    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // one join + one aggregate per round: neighbor labels arrive via
      // the dst-keyed join (edge side pre-partitioned, exchange-free),
      // the node's own label rides the union branch, and a single
      // min-aggregate replaces the old groupBy + left-join-back pair —
      // two exchanges per round (labels→dst, agg→src), both node-sized
      val (updated, updatedBacking, updatedSum) = cutLineage(sym
        .join(labels.withColumnRenamed("id", "dst").hint("shuffle_hash"),
          Seq("dst"))
        .select(col("src"), col("label"))
        .unionByName(labels.select(col("id").as("src"), col("label")))
        .groupBy(col("src"))
        .agg(min(col("label")).as("label"))
        .withColumnRenamed("src", "id"))
      labelsBacking.unpersist()
      labels = updated
      labelsBacking = updatedBacking
      converged = updatedSum == labelSum
      labelSum = updatedSum
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds the dedup-cluster contract; use " +
        "star-contraction for long-chain graphs")
    symBacking.unpersist()
    // the returned plan scans the final label cache, so it stays
    labels.select(col("id"), col("label").as("component"))
  }
}
