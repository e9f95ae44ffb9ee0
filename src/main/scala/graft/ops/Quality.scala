package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Portable.r6

/** Data-quality validators (SURVEY.md §2.9). Each returns a small
  * DataFrame of violation evidence for the checks the reference's
  * transformers raise on (`src/data_cleaning/transformers.py:54-86`).
  */
object Quality {

  /** Per-column null counts for the declared columns. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c => count(when(col(c).isNull, lit(1))).as(s"nulls_$c")): _*)

  /** Count of adjacency violations of a monotonically-increasing time
    * column under the given insertion order (`transformers.py:72-86`).
    * Scale-safe: the lag(1) runs bucket-partitioned with a 1-row fringe
    * (ScalableWindow) instead of a single global sort. `bucket` must be
    * monotone in `orderCols`.
    */
  def descendingCount(
      df: DataFrame,
      timeCol: Column,
      orderCols: Seq[Column],
      bucket: Column): DataFrame =
    ScalableWindow.withTrailingColumns(df, bucket, orderCols, 1)(
        "__graft_prev" -> (w => lag(timeCol, 1).over(w)))
      .filter(col("__graft_prev") > timeCol)
      .agg(count(lit(1)).as("n_violations"))

  /** Freshness: max(time) plus a stale flag against a cutoff
    * (`export_pipeline.py:270-290`). An empty (or all-null-time) input is
    * the most-stale state → stale = 1, so an upstream ingest that
    * silently produced nothing cannot pass the gate. */
  def freshness(df: DataFrame, timeCol: Column, cutoff: Column): DataFrame =
    df.agg(max(timeCol).as("max_ts"))
      .select(col("max_ts"),
        when(col("max_ts").isNull || col("max_ts") < cutoff, lit(1))
          .otherwise(lit(0)).as("stale"))

  /** Leakage guard (`export_pipeline.py:96-126`): feature names that
    * collide with the forbidden target/ops set. Pure name-set logic. */
  def leakageViolations(featureCols: Seq[String], forbidden: Set[String]): Seq[String] =
    featureCols.filter(forbidden.contains)

  /** Schema-drift check against a declared schema (the Spark analog of
    * the reference's fixed CREATE TABLE contracts + its collectors'
    * required-key validation): reports missing columns, unexpected
    * extras, and type mismatches as (column, kind) rows. Pure schema
    * introspection — zero jobs.
    */
  def schemaDrift(
      df: DataFrame,
      expected: Seq[(String, String)] /* name -> typeName */)
      : Seq[(String, String)] = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val exp = expected.toMap
    val missing = expected.collect {
      case (n, _) if !actual.contains(n) => n -> "missing"
    }
    val extra = actual.keys.toSeq.sorted.collect {
      case n if !exp.contains(n) => n -> "unexpected"
    }
    val mismatched = expected.collect {
      case (n, t) if actual.contains(n) && actual(n) != t =>
        n -> s"type_mismatch:${actual(n)}"
    }
    missing ++ extra ++ mismatched
  }

  /** Benchmark decontamination (the Gopher/GPT-3 eval-overlap gate):
    * for every training document, the number of its distinct k-token
    * shingles that also occur anywhere in the benchmark corpus, plus a
    * contaminated flag when more than `threshold` of its shingles are
    * shared. A training document that quotes an eval item wholesale is
    * exactly what this catches — and document-level dedup misses.
    *
    * Scale shape: the benchmark side is tiny relative to a 100 TB train
    * corpus (eval suites are thousands of documents, not billions), so
    * its distinct shingle set is BROADCAST; the train side explodes
    * shingles, hits the broadcast set with an inner join (no shuffle of
    * shingle strings), and aggregates per doc id — one shuffle, id-sized
    * rows. Shingle arrays are distinct per doc, so the post-join count
    * is the distinct shared count with no second dedup pass.
    */
  def contamination(
      train: DataFrame,
      idCol: Column,
      text: Column,
      bench: DataFrame,
      benchText: Column,
      k: Int,
      threshold: Double = 0.5,
      idName: String = "doc_id"): DataFrame = {
    val benchShingles = bench
      .select(explode_outer(Dedup.shinglesNative(benchText, k)).as("__s"))
      .where(col("__s").isNotNull)
      .distinct()
    // single pass over the corpus: explode shingles carrying the per-doc
    // shingle count, mark broadcast hits with a left join, aggregate per
    // doc. No join back onto the shingle plan — a second reference would
    // recompute the whole shingle pass (Spark does not dedup a subplan
    // across branches). Shingle arrays are never empty (a short doc
    // yields one whole-doc shingle), so the groupBy is total — which is
    // why explode_outer: a plain explode makes Catalyst infer
    // `size(shingles) > 0` and push it below the projections,
    // re-evaluating the shingle pass just for the emptiness check;
    // explode_outer infers no filter and is identical here since the
    // array is never empty.
    train
      .select(idCol.as(idName), Dedup.shinglesNative(text, k).as("__sh"))
      .select(col(idName), size(col("__sh")).as("__n"),
        explode_outer(col("__sh")).as("__s"))
      .join(broadcast(benchShingles.withColumn("__hit", lit(1))),
        Seq("__s"), "left")
      .groupBy(col(idName))
      .agg(first(col("__n")).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("int").as("n_shared"))
      .select(col(idName), col("n_shingles"), col("n_shared"),
        (col("n_shared") > lit(threshold) * col("n_shingles"))
          .cast("int").as("contaminated"))
  }

  /** One-pass numeric column profile: (col_name, n_rows, n_nonnull,
    * n_distinct, min, max, mean) — the pipeline-monitoring summary a
    * curation job emits per snapshot.
    *
    * All columns' stats come from a SINGLE aggregate over the input (one
    * scan regardless of how many columns are profiled), then unpivot to
    * per-column rows via an explode over a literal struct array — the
    * row fanout happens on the 1-row aggregate output, never on data.
    * The exact distinct counts make Spark plan an Expand (input
    * duplicated once per distinct aggregate); at corpus scale swap in
    * approx_count_distinct if that pass dominates.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    // fuzz-hardened determinism: the mean comes from an exact integer
    // micro-unit sum (decimal(38,0) — generic columns can be large
    // integers whose micros outgrow a long at corpus scale) with ONE
    // double division, and all 6-decimal rounding is the portable
    // floor form — raw avg + round(.,6) flips between engines when a
    // mean lands on a .5e-6 boundary
    def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__nn"),
      count_distinct(col(c)).as(s"${c}__nd"),
      r6(min(col(c)).cast("double")).as(s"${c}__mn"),
      r6(max(col(c)).cast("double")).as(s"${c}__mx"),
      (floor(sum(floor(col(c) * lit(1e6) + lit(0.5))
          .cast("decimal(38,0)")).cast("double") / count(col(c)) +
        lit(0.5)) / lit(1e6)).as(s"${c}__av")))
    val wide = df.agg(count(lit(1)).as("__n"),
      aggs: _*)
    val perCol = cols.map(c => struct(
      lit(c).as("col_name"), col("__n").as("n_rows"),
      col(s"${c}__nn").as("n_nonnull"), col(s"${c}__nd").as("n_distinct"),
      col(s"${c}__mn").as("min_v"), col(s"${c}__mx").as("max_v"),
      col(s"${c}__av").as("mean_v")))
    wide.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Per-group z-score outlier flags: |value − μ_g| / σ_g > threshold.
    * μ/σ come from EXPLICIT moment sums (Σv, Σv², n) so an external
    * engine reproduces the identical arithmetic (built-in stddev
    * implementations differ in accumulation scheme); the stats frame is
    * one row per group and broadcasts back onto the fact side — two
    * scans, no data-sized shuffle, the same shape as the histogram.
    */
  /** Cross-table referential-integrity audit: orphan count per declared
    * (child FK → parent PK) relationship. Each relationship is one
    * anti join against the DISTINCT parent keys reduced to a 1-row
    * count, unioned into a relationship-per-row report — the FK gate a
    * warehouse runs after every partial/corrupted dimension reload.
    * Parent key sets are usually dimension-sized (broadcastable); the
    * child side streams through the anti join un-shuffled in that case.
    */
  def referentialOrphans(
      rels: Seq[(String, DataFrame, Column, DataFrame, Column)]): DataFrame = {
    require(rels.nonEmpty, "need at least one relationship")
    rels.map { case (name, child, fk, parent, pk) =>
      child.select(fk.as("__k"))
        .join(parent.select(pk.as("__k")).distinct(), Seq("__k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_orphans"))
    }.reduce(_ unionByName _)
  }

  /** Benford first-significant-digit audit: the distribution of leading
    * digits of a positive numeric column vs the Benford expectation
    * log10(1 + 1/d) — the classic fabricated-data / broken-ingest signal
    * for scale-spanning measures. One hash aggregate over the scan (9
    * groups) plus a broadcast single-row total; the digit extraction is
    * pure codegen arithmetic (floor/log10), no strings.
    */
  def benfordDigits(df: DataFrame, value: Column): DataFrame = {
    val pos = df.select(value.as("__v")).filter(col("__v") > 0)
    val counts = pos
      .select(floor(col("__v") / pow(lit(10.0), floor(log10(col("__v")))))
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = pos.agg(count(lit(1)).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        r6(col("n") / col("__tot")).as("observed_freq"),
        r6(log10(lit(1.0) + lit(1.0) / col("digit")))
          .as("expected_freq"),
        r6(abs(col("n") / col("__tot") -
          log10(lit(1.0) + lit(1.0) / col("digit")))).as("abs_dev"))
  }

  def anomalyZscore(
      df: DataFrame,
      group: Column,
      keep: Seq[Column],
      value: Column,
      threshold: Double): DataFrame = {
    val stats = df.groupBy(group.as("__g"))
      .agg(sum(value).as("__sv"), sum(value * value).as("__sq"),
        count(lit(1)).as("__n"))
    val mean = col("__sv") / col("__n")
    val z = (col("__v") - mean) /
      sqrt(col("__sq") / col("__n") - mean * mean)
    df.select(keep :+ group.as("__g") :+ value.as("__v"): _*)
      .join(broadcast(stats), "__g")
      .select(keep ++ Seq(r6(z).as("z"),
        (abs(z) > threshold).cast("int").as("is_anomaly")): _*)
  }

  /** Exactly-once ingestion audit: the natural-key groups that occur
    * more than once (an at-least-once pipeline re-delivering, a
    * collector double-writing). One keyed hash aggregate; output is
    * violation-sized. Keys are (name, expression) pairs so the report
    * carries readable column names.
    */
  def duplicateGroups(df: DataFrame, keys: (String, Column)*): DataFrame = {
    require(keys.nonEmpty, "duplicateGroups needs at least one key")
    df.groupBy(keys.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  /** Population Stability Index between two cohorts of the same metric
    * per group — the standard drift gate between a reference window and
    * a live window (or train vs serve distributions). Values bin into
    * `bins` equal-width buckets over the group's OWN observed range
    * (deterministic — no global quantile estimation), shares are exact
    * integer counts over the cohort, and
    * PSI = Σ (p_live − p_ref) · ln(p_live / p_ref) with the standard
    * half-count continuity floor for empty cells (an empty bin would
    * make the log infinite; the floor keeps the index finite and is
    * replicated by the oracle exactly). Output: (group, psi, drifted).
    *
    * Scale shape: one pass to get per-group min/max (group-sized
    * broadcast), one keyed aggregate over (group, cohort, bin), one
    * group-sized reduce. Raw rows shuffle once.
    */
  def psiDrift(
      df: DataFrame,
      group: Column,
      cohort: Column,
      value: Column,
      bins: Int = 10,
      threshold: Double = 0.2): DataFrame = {
    require(bins >= 2, "psi needs at least 2 bins")
    val keyed = df.select(group.as("__g"), cohort.as("__c"), value.as("__v"))
    val range = keyed.groupBy(col("__g"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val binned = keyed.join(broadcast(range), "__g")
      // the max value lands in the top bin via least(); a constant
      // column (hi = lo, division would be NaN — an ANSI cast error)
      // degenerates to bin 0 on both engines by explicit guard
      .withColumn("__b",
        when(col("__hi") === col("__lo"), lit(0)).otherwise(least(
          floor((col("__v") - col("__lo")) / ((col("__hi") - col("__lo"))
            / lit(bins.toDouble))).cast("int"), lit(bins - 1))))
      .groupBy(col("__g"), col("__c"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    // per-(group, cohort) totals are group-sized — broadcastable
    val totals = binned.groupBy(col("__g"), col("__c"))
      .agg(sum(col("__n")).as("__tot"))
    val refTot = totals.filter(col("__c") === "ref")
      .select(col("__g"), col("__tot").as("__tr"))
    val liveTot = totals.filter(col("__c") === "live")
      .select(col("__g"), col("__tot").as("__tl"))
    val ref = binned.filter(col("__c") === "ref")
      .select(col("__g"), col("__b"), col("__n").as("__nr"))
    val live = binned.filter(col("__c") === "live")
      .select(col("__g"), col("__b"), col("__n").as("__nl"))
    ref.join(live, Seq("__g", "__b"), "full")
      .join(broadcast(refTot), "__g")
      .join(broadcast(liveTot), "__g")
      // half-count continuity floor for a bin the cohort never observed
      .withColumn("__pr", coalesce(col("__nr").cast("double"), lit(0.5))
        / col("__tr"))
      .withColumn("__pl", coalesce(col("__nl").cast("double"), lit(0.5))
        / col("__tl"))
      .groupBy(col("__g").as("group"))
      .agg(r6(sum((col("__pl") - col("__pr")) *
        log(col("__pl") / col("__pr")))).as("psi"))
      .withColumn("drifted", (col("psi") > threshold).cast("int"))
  }
}
