package graft.exports

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Caches.persist
import graft.ops.{Quality, Relational, ScalableRank}

/** The reference's feature-export pipeline (`src/processing/
  * export_pipeline.py:296-369`, SURVEY §3.2 steps 3-4) as one composable
  * job: leakage guard → freshness gate → chronological split → X/y
  * column projection → per-split parquet, with optional
  * timestamp-versioned filenames (`:210-264,654-668`).
  *
  * Scale shape: the guard checks are driver-side name-set logic plus one
  * tiny aggregate; the split is the bucketed global-row-number (no
  * single-partition sort); each split writes partition-parallel.
  */
object ExportJob {

  /** The body the four split functions share: drop rows without a
    * target, label each row's `split`, then one filtered part per name,
    * sorted by `order`. The labeled plan is evaluated several times (one
    * sizes count plus one filter+orderBy per split), and the input is
    * typically the full feature pipeline, so it is persisted and the
    * upstream job runs once; the cache is released under the
    * [[graft.Caches]] contracts. Like the reference's ValueError
    * (export_pipeline.py:155-161), a split in `nonEmpty` without rows
    * raises — one small counting job, eager like the reference.
    */
  private def splitParts(
      features: DataFrame,
      targetCol: String,
      order: Seq[Column],
      names: Seq[String],
      nonEmpty: Set[String])(
      label: DataFrame => DataFrame): Map[String, DataFrame] = {
    val labeled = persist(label(features.na.drop(Seq(targetCol))))
    val sizes = labeled.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    names.map { name =>
      require(!nonEmpty(name) || sizes.getOrElse(name, 0L) > 0,
        s"empty split: $name")
      name -> labeled.filter(col("split") === name).orderBy(order: _*)
    }.toMap
  }

  private val RatioSplits = Seq("train", "test")
  private val DateSplits = Seq("train", "val", "test")

  /** A zero-day val/test window is an intentional narrower split, so
    * only the windows actually requested must be non-empty — an empty
    * requested window raises instead of training on a zero-row
    * validation set.
    */
  private def requestedDates(valDays: Int, testDays: Int): Set[String] =
    Set("train") ++ Option.when(valDays > 0)("val") ++
      Option.when(testDays > 0)("test")

  private def asXy(parts: Map[String, DataFrame], featureCols: Seq[String],
      targetCol: String): Map[String, (DataFrame, DataFrame)] =
    parts.map { case (name, part) =>
      name -> (part.select(featureCols.map(col): _*),
        part.select(col(targetCol)))
    }

  private def asUnified(parts: Map[String, DataFrame],
      featureCols: Seq[String], targetCol: String): Map[String, DataFrame] =
    parts.map { case (name, part) =>
      name -> part.select((featureCols :+ targetCol).map(col): _*)
    }

  /** Raises (like the reference's RuntimeError) when a feature column
    * collides with the target/ops set or the newest row is stale. */
  def guard(
      features: DataFrame,
      featureCols: Seq[String],
      forbidden: Set[String],
      timeCol: Column,
      staleCutoff: Column): Unit = {
    val leaked = Quality.leakageViolations(featureCols, forbidden)
    require(leaked.isEmpty, s"leakage: ${leaked.mkString(", ")}")
    val stale = Quality.freshness(features, timeCol, staleCutoff)
      .first().getAs[Int]("stale")
    require(stale == 0, "freshness gate failed: newest row older than cutoff")
  }

  /** Chronological ratio split + X/y projection. Returns
    * (split name → (X, y)) with X = featureCols, y = target only —
    * the reference's X_*.parquet / y_*.parquet column split.
    *
    * Both projections are sorted by `order` (which must be a TOTAL
    * order — include a unique tiebreaker): X and y are written as two
    * independent jobs, and without a deterministic total order AQE may
    * lay their rows out differently, silently mispairing features with
    * labels when the consumer zips the files row-by-row.
    */
  def splitXy(
      features: DataFrame,
      bucket: Column,
      order: Seq[Column],
      testRatio: Double,
      featureCols: Seq[String],
      targetCol: String): Map[String, (DataFrame, DataFrame)] =
    asXy(splitParts(features, targetCol, order, RatioSplits,
      RatioSplits.toSet)(
      ScalableRank.chronoSplit(_, bucket, order, testRatio)),
      featureCols, targetCol)

  /** Calendar split variant of [[splitUnified]]: one DataFrame per
    * split (train/val/test) carrying features+target — alignment-hazard-
    * free like its ratio sibling; write via [[writeSplitsUnified]]. */
  def splitUnifiedByDates(
      features: DataFrame,
      dateCol: Column,
      order: Seq[Column],
      valDays: Int,
      testDays: Int,
      featureCols: Seq[String],
      targetCol: String): Map[String, DataFrame] =
    asUnified(splitParts(features, targetCol, order, DateSplits,
      requestedDates(valDays, testDays))(
      Relational.splitByDates(_, dateCol, valDays, testDays)),
      featureCols, targetCol)

  /** Calendar split variant anchored to max(date)
    * (`export_pipeline.py:626-641`). `order` must be a total order —
    * same X/y row-alignment contract as [[splitXy]]; prefer
    * [[splitUnifiedByDates]]. */
  def splitXyByDates(
      features: DataFrame,
      dateCol: Column,
      order: Seq[Column],
      valDays: Int,
      testDays: Int,
      featureCols: Seq[String],
      targetCol: String): Map[String, (DataFrame, DataFrame)] =
    asXy(splitParts(features, targetCol, order, DateSplits,
      requestedDates(valDays, testDays))(
      Relational.splitByDates(_, dateCol, valDays, testDays)),
      featureCols, targetCol)

  /** float32 downcast of the feature matrix, the reference's deliberate
    * export narrowing for ML-consumer speed ("spaltenorientiert, schnell
    * für XGBoost", docs/req.md:373-375; the float casts at
    * export_pipeline.py:258-262): every DoubleType column becomes
    * FloatType. Opt-in because it halves X storage/IO at the cost of
    * ~7 significant digits — right for gradient-boosted consumers,
    * wrong for an exact-arithmetic downstream. Non-double columns
    * (ids, timestamps, the label) pass through untouched.
    */
  def downcastFloat32(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        acc.withColumn(f.name, col(f.name).cast("float"))
      else acc
    }

  /** Writes each split's X/y as parquet under `dir`, optionally
    * timestamp-versioned (`X_train_<stamp>.parquet` style). Pairing
    * relies on the documented total-order contract of the two sorted
    * writes — prefer [[writeSplitsUnified]]/[[readXy]], which removes
    * the alignment hazard structurally.
    *
    * `float32X = true` applies [[downcastFloat32]] to the X side only —
    * the label keeps full precision (export_pipeline.py narrows the
    * feature matrix, not y).
    */
  def writeSplits(
      splits: Map[String, (DataFrame, DataFrame)],
      dir: String,
      version: Option[String] = None,
      float32X: Boolean = false): Unit = {
    val suffix = version.map("_" + _).getOrElse("")
    splits.foreach { case (name, (x, y)) =>
      val xOut = if (float32X) downcastFloat32(x) else x
      xOut.write.mode("overwrite").parquet(s"$dir/X_$name$suffix.parquet")
      y.write.mode("overwrite").parquet(s"$dir/y_$name$suffix.parquet")
    }
  }

  /** Chronological split WITHOUT the X/y column separation: one
    * DataFrame per split carrying `featureCols :+ targetCol`. Feed to
    * [[writeSplitsUnified]]; consumers project X and y at read via
    * [[readXy]]. Because X and y then come from the SAME rows of the
    * same file, feature/label pairing survives any input shuffle, AQE
    * re-plan, or task retry by construction — no total-order contract
    * needed.
    */
  def splitUnified(
      features: DataFrame,
      bucket: Column,
      order: Seq[Column],
      testRatio: Double,
      featureCols: Seq[String],
      targetCol: String): Map[String, DataFrame] =
    // sorted like splitXy — not needed for X/y pairing (that's
    // structural here), but consumers reading sequentially (walk-
    // forward eval, sequential mini-batches) rely on the order
    asUnified(splitParts(features, targetCol, order, RatioSplits,
      RatioSplits.toSet)(
      ScalableRank.chronoSplit(_, bucket, order, testRatio)),
      featureCols, targetCol)

  /** One parquet per split (`xy_<name><suffix>.parquet`), features and
    * target together.
    *
    * `float32Cols` names the feature columns to narrow to FloatType on
    * write (the [[downcastFloat32]] contract, per-column because the
    * unified file carries the label too and the label must keep full
    * precision). */
  def writeSplitsUnified(
      splits: Map[String, DataFrame],
      dir: String,
      version: Option[String] = None,
      float32Cols: Seq[String] = Nil): Unit = {
    val suffix = version.map("_" + _).getOrElse("")
    splits.foreach { case (name, xy) =>
      val out = float32Cols.foldLeft(xy)((df, c) =>
        df.withColumn(c, col(c).cast("float")))
      out.write.mode("overwrite").parquet(s"$dir/xy_$name$suffix.parquet")
    }
  }

  /** Reads a unified split back as the (X, y) pair the model consumer
    * expects. Both are column projections of the same scan, so row i of
    * X and row i of y are the same stored row — alignment is a property
    * of the data layout, not of a sort convention.
    */
  def readXy(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      name: String,
      featureCols: Seq[String],
      targetCol: String,
      version: Option[String] = None): (DataFrame, DataFrame) = {
    val suffix = version.map("_" + _).getOrElse("")
    val xy = spark.read.parquet(s"$dir/xy_$name$suffix.parquet")
    (xy.select(featureCols.map(col): _*), xy.select(col(targetCol)))
  }
}
