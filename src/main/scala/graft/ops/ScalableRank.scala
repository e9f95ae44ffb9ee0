package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, FileSourceMetadataAttribute, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.TableFacts
import graft.TableFacts.StoredOrder

/** Scale-safe global row numbering / positional operators.
  *
  * The reference's chronological splits and stride downsampling
  * (`src/processing/export_pipeline.py:129-207`, `src/api/main.py:1038-1045`)
  * are positional over a global time order. A bare
  * `row_number().over(Window.orderBy(ts))` funnels the table through one
  * partition. Instead every operator here rides one bucket-offset core:
  * measure each coarse bucket (a row count or a value sum; a tiny
  * aggregate), turn the measures into per-bucket exclusive offsets and a
  * total with windows over the *bucket list* (thousands of rows at most),
  * broadcast those back, and number rows within each bucket
  * independently. With `partitionBy` keys the offsets and totals restart
  * per partition, as in a `Window.partitionBy(keys)` ordering.
  *
  * Two preconditions, stated once for every operator here:
  *  - `bucket` is monotone ASCENDING in `orderCols` within each partition
  *    (a coarse prefix of the ordering, as any time-bucket of a time
  *    ordering is); for a DESC ordering pass the negated bucket.
  *  - the bucket count per partition is bounded by the value domain (a
  *    day grid, a price band), never by the row count: the offsets
  *    relation is broadcast.
  *
  * Rows whose bucket or partition keys are null are dropped.
  * [[downsampleStride]] needs the preconditions only on its fallback:
  * when the input's files are proven stored in the global order it
  * numbers rows from the scan and ignores `bucket`.
  */
object ScalableRank {

  private val B = "__graft_bucket"
  private val Offset = "__graft_offset"
  private val Total = "__graft_total"

  /** `df` with the partition keys and `bucket` as named columns, and
    * the names of the keys. */
  private def keyed(
      df: DataFrame,
      partitionBy: Seq[Column],
      bucket: Column): (DataFrame, Seq[String]) = {
    val keys = partitionBy.indices.map(i => s"__graft_part$i")
    (keys.zip(partitionBy).foldLeft(df) { case (d, (k, c)) => d.withColumn(k, c) }
      .withColumn(B, bucket), keys)
  }

  /** The core: `withB` joined through a broadcast with, per (keys,
    * bucket), [[Offset]] (`measure`, aggregated per bucket as `m`, summed
    * over the partition's earlier buckets) and [[Total]] (over all of
    * it). A caller that drops [[Total]] leaves no window for it. */
  private def withOffsets(
      withB: DataFrame,
      keys: Seq[String],
      measure: Column,
      m: String): DataFrame = {
    val parts = Window.partitionBy(keys.map(col): _*)
    // Tiny: one row per (keys, bucket). The windows over it are safe.
    val offsets = withB
      .groupBy((keys :+ B).map(col): _*)
      .agg(measure.as(m))
      .withColumn(Offset, coalesce(
        sum(col(m)).over(parts.orderBy(col(B))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn(Total, sum(col(m)).over(parts))
      .drop(m)
    withB.join(broadcast(offsets), keys :+ B)
  }

  /** The within-bucket window of [[withOffsets]]'s rows. */
  private def inBucket(keys: Seq[String], orderCols: Seq[Column]) =
    Window.partitionBy((keys :+ B).map(col): _*).orderBy(orderCols: _*)

  /** Adds a 1-based global row number column named `name`, plus (when
    * `totalName` is set) the total row count — derived from the same
    * per-bucket count pass, so callers that need `n` (splits, strides)
    * don't pay a second scan. With `partitionBy` keys both restart per
    * partition.
    */
  def globalRowNumber(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      name: String,
      totalName: Option[String] = None,
      partitionBy: Seq[Column] = Nil): DataFrame = {
    val (withB, keys) = keyed(df, partitionBy, bucket)
    val numbered = withOffsets(withB, keys, count(lit(1)), "__graft_cnt")
      .withColumn(name,
        row_number().over(inBucket(keys, orderCols)).cast("long") + col(Offset))
    totalName.fold(numbered.drop(Total))(numbered.withColumnRenamed(Total, _))
      .drop(keys :+ B :+ Offset: _*)
  }

  /** Labels a row with the first of the `cuts` (ratio, label) whose
    * first `floor(n · ratio)` rows (the reference's `int(n * ratio)`)
    * hold it, else `rest`. The ratios must rise strictly inside (0, 1):
    * one outside (or NaN) would give a silent one-label split. */
  private def chronoLabel(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      name: String,
      cuts: Seq[(Double, String)],
      rest: String): DataFrame = {
    val ratios = cuts.map(_._1)
    require(ratios.forall(r => r > 0 && r < 1) &&
        ratios.zip(ratios.tail).forall { case (a, b) => a < b },
      s"split cuts must rise strictly inside (0, 1), got ${ratios.mkString(", ")}")
    val (rn, n) = ("__graft_rn", "__graft_n")
    def within(r: Double) = col(rn) <= floor(col(n) * lit(r))
    val label = cuts.tail.foldLeft(when(within(cuts.head._1), lit(cuts.head._2))) {
      case (w, (r, l)) => w.when(within(r), lit(l))
    }.otherwise(lit(rest))
    globalRowNumber(df, bucket, orderCols, rn, Some(n))
      .withColumn(name, label)
      .drop(rn, n)
  }

  /** Chronological ratio split (reference `export_pipeline.py:129-207`):
    * first `floor(n * (1 - testRatio))` rows by the global order → "train",
    * rest → "test". Emits a `split` label column; `testRatio` must lie in
    * (0, 1).
    */
  def chronoSplit(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      testRatio: Double,
      name: String = "split"): DataFrame =
    chronoLabel(df, bucket, orderCols, name, Seq((1.0 - testRatio) -> "train"), "test")

  /** Chronological three-way split (reference
    * `export_pipeline.py:164-207` `split_chronological_three_way`):
    * train = first `floor(n·(1−val−test))` rows of the global order,
    * val = the rows up to `floor(n·(1−test))`, test = the rest. Both
    * ratios must be positive and sum below 1.
    */
  def chronoSplitThreeWay(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      valRatio: Double = 0.15,
      testRatio: Double = 0.15,
      name: String = "split"): DataFrame =
    chronoLabel(df, bucket, orderCols, name,
      Seq((1.0 - valRatio - testRatio) -> "train", (1.0 - testRatio) -> "val"), "test")

  /** Adds a global running sum of `value` over the global ordering —
    * the core summing a value column instead of counting rows. By
    * default the sum is EXCLUSIVE (tokens/bytes *before* this row),
    * which is the form positional packing needs; `inclusive = true`
    * gives the classic cumulative sum. With `partitionBy` keys the sum
    * restarts per partition. `value` must be non-null.
    */
  def globalPrefixSum(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      value: Column,
      name: String,
      inclusive: Boolean = false,
      partitionBy: Seq[Column] = Nil): DataFrame = {
    val V = "__graft_v"
    val (withB, keys) = keyed(df, partitionBy, bucket)
    val upper = if (inclusive) 0L else -1L
    val running = sum(col(V)).over(inBucket(keys, orderCols)
      .rowsBetween(Window.unboundedPreceding, upper))
    withOffsets(withB.withColumn(V, value.cast("long")), keys, sum(col(V)), "__graft_bsum")
      .withColumn(name, coalesce(running, lit(0L)) + col(Offset))
      .drop(keys ++ Seq(B, V, Offset, Total): _*)
  }

  /** Concatenate-and-split sequence packing — the pretraining layout
    * where every document's tokens are appended to one endless stream
    * that is then cut into fixed `seqLen`-token training sequences.
    * Emits, per document: `seq_id` (the sequence its first token lands
    * in) and `seq_offset` (position within that sequence); a document
    * whose tokens cross a cut simply continues into the next sequence,
    * exactly as GPT-style packing does. Built on [[globalPrefixSum]],
    * so no global sort ever materializes. `tokens` must be non-null.
    */
  def packSequences(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      tokens: Column,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val p = "__graft_prefix"
    globalPrefixSum(df, bucket, orderCols, tokens, p)
      .withColumn("seq_id", floor(col(p) / lit(seqLen.toLong)))
      .withColumn("seq_offset", pmod(col(p), lit(seqLen.toLong)))
      .drop(p)
  }

  /** Exact `ntile(k)` over a GLOBAL ordering (per partition with
    * `partitionBy` keys) without the single-partition window: a bare
    * `ntile(k).over(Window.orderBy(...))` funnels the whole relation
    * through one reducer — a one-task wall at 100 TB on any row-scale
    * input (customer/user dims grow with data). This computes the
    * identical tile assignment from [[globalRowNumber]]'s row number
    * and total plus the standard SQL split formula (the first
    * `n % k` tiles take `n div k + 1` rows, the rest `n div k` — what
    * Spark's and DuckDB's NTile both implement), all in exact integer
    * arithmetic:
    *
    *   cut  = (n % k) * (n div k + 1)
    *   tile = rn <= cut ? (rn-1) div (n div k + 1) + 1
    *                    : (n % k) + (rn-1-cut) div (n div k) + 1
    *
    * (`n < k` degenerates to tile = rn via the first branch — cut = n
    * and `n div k` = 0 never divides because the ELSE arm is
    * unreached.) `bucket` follows the object's preconditions.
    */
  def globalNtile(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      k: Int,
      name: String,
      partitionBy: Seq[Column] = Nil): DataFrame = {
    require(k >= 1, s"ntile needs k >= 1, got $k")
    val rn = "__graft_ntile_rn"
    val nT = "__graft_ntile_n"
    val numbered = globalRowNumber(df, bucket, orderCols, rn, Some(nT), partitionBy)
    numbered
      .withColumn(name, expr(
        s"""CASE WHEN `$rn` <= (`$nT` % $k) * ((`$nT` div $k) + 1)
             THEN ((`$rn` - 1) div ((`$nT` div $k) + 1)) + 1
             ELSE (`$nT` % $k) +
               ((`$rn` - 1 - (`$nT` % $k) * ((`$nT` div $k) + 1))
                 div (`$nT` div $k)) + 1 END""").cast("int"))
      .drop(rn, nT)
  }

  /** Stride downsample to at most `maxPoints` rows (reference
    * `src/api/main.py:1038-1045`): step = ceil(n / maxPoints), keep rows at
    * global positions 0, step, 2·step, … of the given ordering.
    *
    * When [[storedOrder]] proves that `df`'s parquet files hold its rows
    * in that order with strictly rising keys, the position is the file's
    * base plus `_metadata.row_index` and the result is a narrow filter
    * over `df`, with no exchange — the reference serves this read from a
    * time-ordered hypertable, so row order costs it nothing either.
    * Otherwise it falls back to the bucket-offset [[globalRowNumber]].
    * Both paths return `df`'s columns and, for a total order, the same
    * rows. The proof's facts are memoized for a bare scan (see
    * [[graft.TableFacts]]): the first call on a table's files runs one
    * proof job, later calls on unchanged files run none. Any other input
    * runs the proof job on every call.
    */
  def downsampleStride(
      df: DataFrame,
      bucket: Column,
      orderCols: Seq[Column],
      maxPoints: Int): DataFrame = {
    require(maxPoints >= 1, s"downsampleStride needs maxPoints >= 1, got $maxPoints")
    storedOrder(df, orderCols).filter(_.strict) match {
      case Some(o) =>
        val step = (o.n - 1) / maxPoints + 1
        // base and step travel in one map literal, which generated code
        // references instead of inlining, so every call reuses one
        // compiled class; an inlined step would compile one per maxPoints
        val at = typedLit(o.files.map { case (f, (base, _)) => f -> (base, step) })
          .apply(FilePath)
        df.filter(pmod(at("_1") + RowIndex, at("_2")) === 0)
      case None =>
        val rn = "__graft_rn"
        val numbered = globalRowNumber(df, bucket, orderCols, rn, Some("__graft_n"))
        numbered
          .withColumn("__graft_step", ceil(col("__graft_n") / lit(maxPoints)).cast("long"))
          .filter(pmod(col(rn) - 1, col("__graft_step")) === 0)
          .drop(rn, "__graft_n", "__graft_step")
    }
  }

  private val FilePath = col("_metadata.file_path")
  private val RowIndex = col("_metadata.row_index")

  /** Rows `lo..hi` of `file`, read back to back by one proof task, with
    * the proof row (file, row index, order-key columns) at each end.
    * `sorted` is false if the task met a key that fell; it stops reading
    * there. `strict` is false if some key did not rise strictly.
    */
  private final case class Run(file: String, lo: Long, hi: Long,
      first: InternalRow, last: InternalRow, sorted: Boolean, strict: Boolean)

  /** Proves that `df`'s rows are stored in ascending `orderCols` order —
    * within each parquet file by `_metadata.row_index`, and file after
    * file — and returns what the proof learned ([[StoredOrder]]: each
    * file's base and row count, the first and last key, and whether keys
    * rise strictly or only never fall). One narrow job, like
    * `RDD.zipWithIndex`'s offsets job. `None` when `df` is not a
    * deterministic scan of files with row indexes, or the proof fails:
    * unsorted rows, overlapping files, a file whose rows are not one
    * contiguous index range (a filter removed rows in its middle), or no
    * rows at all.
    *
    * For a bare parquet scan the result, failure included, is memoized
    * in [[graft.TableFacts]] on the files' fingerprint. With `memoOnly`
    * any other input returns `None` without running the proof.
    */
  private[graft] def storedOrder(
      df: DataFrame,
      orderCols: Seq[Column],
      memoOnly: Boolean = false): Option[StoredOrder] = {
    val planned =
      try df.orderBy(orderCols: _*).queryExecution.analyzed match {
        case s: Sort if df.queryExecution.analyzed.deterministic &&
            s.order.forall(_.deterministic) =>
          val keys = s.order.flatMap(_.references).distinct
          val sel = df.select(FilePath +: RowIndex +:
            keys.map(a => col(s"`${a.name.replace("`", "``")}`")): _*)
          sel.queryExecution.analyzed match {
            // `_metadata` is the scan's, not a user column of that name
            case p: Project if p.projectList.take(2).flatMap(_.references)
                .forall(a => FileSourceMetadataAttribute.isValid(a.metadata)) &&
                keys.forall(p.outputSet.contains) => Some((s, sel, p.output))
            case _ => None
          }
        case _ => None
      } catch { case _: AnalysisException => None }
    planned.flatMap { case (s, sel, out) =>
      lazy val proved = prove(sel, s.order, out)
      TableFacts.storedOrder(df, s)(proved).getOrElse(if (memoOnly) None else proved)
    }
  }

  /** The proof job over `sel` (file path, row index, order-key columns)
    * and the check of its collected runs. */
  private def prove(
      sel: DataFrame,
      orders: Seq[SortOrder],
      out: Seq[Attribute]): Option[StoredOrder] = {
    val runs = sel.queryExecution.toRdd.mapPartitions { rows =>
      proofRuns(rows, RowOrdering.create(orders, out))
    }.collect()
    val ord = RowOrdering.create(orders, out)
    val files = runs.groupBy(_.file).values.map(_.sortBy(_.lo)).toSeq
      .sortBy(rs => (rs.head.first, rs.last.last))(Ordering.Tuple2(ord, ord))
    // every run join and file join keeps keys in order (`le`)
    def joined(le: (InternalRow, InternalRow) => Boolean) =
      files.forall(rs => rs.zip(rs.tail).forall { case (a, b) => le(a.last, b.first) }) &&
        files.zip(files.drop(1)).forall { case (a, b) => le(a.last.last, b.head.first) }
    val contiguous = files.forall(rs => rs.zip(rs.tail).forall { case (a, b) => b.lo == a.hi + 1 })
    val sorted = contiguous && runs.forall(_.sorted) && joined(ord.lteq)
    if (files.isEmpty || !sorted) None
    else {
      val ends = files.scanLeft(0L)((off, rs) => off + rs.last.hi - rs.head.lo + 1)
      Some(StoredOrder(
        files.zip(ends).map { case (rs, off) =>
          rs.head.file -> (off - rs.head.lo, rs.last.hi - rs.head.lo + 1) }.toMap,
        ends.last, files.head.head.first, files.last.last.last,
        strict = runs.forall(_.strict) && joined(ord.lt)))
    }
  }

  /** One proof task: its rows cut into [[Run]]s of consecutive row
    * indexes of one file. The scan reuses its row object, so each run's
    * first row and the row just read are kept as copies. */
  private def proofRuns(
      rows: Iterator[InternalRow],
      ord: Ordering[InternalRow]): Iterator[Run] = {
    val runs = ArrayBuffer.empty[Run]
    var file: UTF8String = null
    var lo, hi = 0L
    var first, last: InternalRow = null
    var sorted, strict = true
    def close(): Unit =
      if (file != null) runs += Run(file.toString, lo, hi, first, last, sorted, strict)
    while (sorted && rows.hasNext) {
      val row = rows.next()
      val i = row.getLong(1)
      if (file != null && i == hi + 1 && row.getUTF8String(0) == file) {
        val c = ord.compare(last, row)
        sorted = c <= 0
        strict &&= c < 0
      } else {
        close()
        file = row.getUTF8String(0).clone()
        lo = i
        first = row.copy()
        strict = true
      }
      hi = i
      last = if (hi == lo) first else row.copy()
    }
    close()
    runs.iterator
  }
}
