package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/** Facts about a table's files that change only when a file changes,
  * memoized on the files' fingerprint — the serving analog of a
  * hypertable's chunk catalog (PAPER.md §1.1), and of the data-source
  * statistics Spark SQL and Shark plan with. A read answered from them
  * starts no Spark job.
  *
  * Memo contract ([[Memo]]): one entry per key, holding the value derived
  * under the key's [[Fingerprint]]; a changed fingerprint re-derives and
  * REPLACES the entry. The `Tables` schema cache is one such memo. Here
  * the fingerprint's files come from the relation's own file index, so
  * they are the files the scan reads, and facts are kept only for a
  * bare scan: deterministic projections over one parquet relation, with
  * no filter, so the memo holds one entry per table read shape. Facts
  * are derived lazily, by the first read that needs them.
  *
  *  - Stored order ([[storedOrder]]): what the first stored-order proof
  *    of `ScalableRank` learned, keyed on the canonicalized analyzed
  *    plan of the sorted scan (scan plus order); a failed proof is kept
  *    too, so an unsorted table pays the proof once per fingerprint.
  *  - Parquet footers ([[nonNullCounts]]): each file's row count and the
  *    null counts of its column chunks, keyed on the relation.
  */
object TableFacts {

  /** A set of files as sorted (path, length, mtime), plus the values of
    * the session confs that change what is derived from them. A rewrite
    * that keeps every file's path, length and mtime is invisible to it;
    * Spark's own writers never produce one (every write names fresh part
    * files). */
  final case class Fingerprint(files: Seq[(String, Long, Long)], confs: Seq[String])

  object Fingerprint {
    def of(files: Seq[FileStatus], confs: Seq[String]): Fingerprint =
      Fingerprint(files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sortBy(_._1), confs)
  }

  /** One entry per key: the value derived under the key's current
    * fingerprint. The caller takes the fingerprint BEFORE `derive` reads
    * the files, so an entry's fingerprint is never newer than its value —
    * a concurrent rewrite costs at most one extra derivation on the next
    * call, never a stale value. Concurrent cold callers each derive and
    * the last one's entry stays. */
  final class Memo[K, V] {
    private val entries = new ConcurrentHashMap[K, (Fingerprint, V)]()

    def apply(key: K, fp: Fingerprint)(derive: => V): V =
      Option(entries.get(key)).collect { case (`fp`, v) => v }.getOrElse {
        val v = derive
        entries.put(key, (fp, v))
        v
      }

    private[graft] def size: Int = entries.size
  }

  /** What a stored-order proof learned: per file, its base (the global
    * 0-based position of its row index 0) and row count; the total row
    * count `n`; the first and last proof rows in the order, each laid out
    * as (file path, row index, order-key columns); and whether the keys
    * rise strictly — otherwise they never fall. */
  final case class StoredOrder(
      files: Map[String, (Long, Long)],
      n: Long,
      first: InternalRow,
      last: InternalRow,
      strict: Boolean) {
    /** The first order-key column of the first and of the last row, of
      * type `t`; `None` when the first is null. */
    def keyRange(t: DataType): Option[(Any, Any)] =
      if (first.isNullAt(2)) None else Some((first.get(2, t), last.get(2, t)))
  }

  /** Per parquet file: its row count, and per top-level primitive column
    * whose every chunk has its null count set, the column's null count. */
  private final case class Footer(rows: Long, nulls: Map[String, Long])

  /** The session confs whose values change what a scan's rows hold. */
  private val valueConfs = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.parquet.datetimeRebaseModeInRead",
    "spark.sql.parquet.int96RebaseModeInRead")

  private[graft] val orders = new Memo[LogicalPlan, Option[StoredOrder]]
  private val footers = new Memo[LogicalPlan, Option[Seq[Footer]]]

  /** The parquet relation under `plan` when `plan` is a bare scan. */
  private def relation(plan: LogicalPlan): Option[LogicalRelation] = plan match {
    case p: Project if p.projectList.forall(_.deterministic) => relation(p.child)
    case a: SubqueryAlias => relation(a.child)
    case r: LogicalRelation if !r.isStreaming => r.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.location.isInstanceOf[PartitioningAwareFileIndex] => Some(r)
      case _ => None
    }
    case _ => None
  }

  private def files(r: LogicalRelation): Seq[FileStatus] =
    r.relation.asInstanceOf[HadoopFsRelation].location
      .asInstanceOf[PartitioningAwareFileIndex].allFiles()

  /** The memoized stored order of `df` sorted as `sorted` (the analyzed
    * `df.orderBy(...)`), proving it with `prove` on a miss; `None` when
    * `df` is not a bare scan, whose proof the caller runs unmemoized. */
  def storedOrder(df: DataFrame, sorted: LogicalPlan)(
      prove: => Option[StoredOrder]): Option[Option[StoredOrder]] =
    relation(df.queryExecution.analyzed).map { r =>
      val fp = Fingerprint.of(files(r), valueConfs.map(df.sparkSession.conf.get))
      orders(sorted.canonicalized, fp)(prove)
    }

  /** (row count, non-null count per column) of `df` from its parquet
    * footers; `None` unless `df` is a bare scan, every column is a
    * top-level attribute of its relation, and every file's footer was
    * read and holds a null count for every chunk of every column. */
  def nonNullCounts(df: DataFrame, cols: Seq[String]): Option[(Long, Seq[Long])] =
    for {
      r <- relation(df.queryExecution.analyzed)
      names <- df.select(cols.map(col): _*).queryExecution.analyzed match {
        case p: Project if p.projectList.forall {
            case a: Attribute => r.outputSet.contains(a)
            case _ => false
          } => Some(p.projectList.map(_.name))
        case _ => None
      }
      fs = files(r)
      perFile <- footers(r.canonicalized, Fingerprint.of(fs, Nil))(
        readFooters(df, fs))
      nulls = names.map(c => perFile.flatMap(_.nulls.get(c)))
      if nulls.forall(_.size == perFile.size)
    } yield {
      val n = perFile.map(_.rows).sum
      (n, nulls.map(n - _.sum))
    }

  private def readFooters(df: DataFrame, fs: Seq[FileStatus]): Option[Seq[Footer]] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    Try(fs.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toSeq
        val fields = footer.getFileMetaData.getSchema.getFields.asScala.toSeq
        // a name that matches another case-insensitively is ambiguous
        // to a case-insensitive read: it gets no count
        val clash = fields.groupBy(_.getName.toLowerCase).filter(_._2.size > 1).keySet
        val nulls = fields.collect {
          case t if t.isPrimitive && !t.isRepetition(Repetition.REPEATED) &&
              !clash.contains(t.getName.toLowerCase) => t.getName
        }.flatMap { name =>
          val counts = blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toArray.sameElements(Seq(name)))
            .flatMap(c => Option(c.getStatistics)).filter(_.isNumNullsSet))
            .map(_.getNumNulls)
          if (counts.size == blocks.size) Some(name -> counts.sum) else None
        }.toMap
        Footer(blocks.map(_.getRowCount).sum, nulls)
      } finally reader.close()
    }).toOption
  }
}
