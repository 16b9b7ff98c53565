package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftDatasetFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** MERGE-ON-READ deletion vectors, applied INSIDE the scan. A DV
  * artifact (`_graft_dv/dv-<uuid>`, parquet `(file STRING, pos
  * BIGINT)`: root-relative data file, parquet row position) is loaded
  * ONCE per JVM into per-file row-index bitmaps and cached by its
  * qualified path — artifacts are immutable and UUID-named, so an
  * entry never goes stale. A scan of a DV'd version then carries one
  * filter over `_metadata.file_path` / `_metadata.row_index`: the
  * file's bitmap is found once per FILE (the path is compared by
  * reference, then by bytes, before any lookup), and each row costs
  * one bitmap probe — no per-row path string surgery, no join, no
  * artifact scan in the query plan.
  *
  * The same bitmaps answer the log-side questions — which files carry
  * deletes ([[filesWithDeletes]]: purge, OPTIMIZE's debt test, the
  * rewrite CAS conflict check, the change feed) and how many rows each
  * lost ([[deletedPerFile]]: log-answered COUNT).
  *
  * Path normalization: the writers store `_metadata.file_path` minus
  * the filesystem-QUALIFIED root prefix ([[relPath]]); the filter
  * strips the same prefix, once per file. A path without that prefix
  * raises rather than silently serving a deleted row (fail loud —
  * deletes are correctness, unlike the pruning sidecars).
  *
  * Scale shape: the planning JVM holds O(deleted rows) in compressed
  * bitmaps (run containers for contiguous deletes), shipped once per
  * stage inside the task binary. */
object DeletionVectors {

  /** The on-disk artifact schema, read declaratively (no inference). */
  private val ArtifactSchema = "file STRING, pos BIGINT"

  /** qualified artifact path → root-relative data file → deleted rows */
  private val cache = new ConcurrentHashMap[String, Map[String, RoaringBitmap]]()

  /** The filesystem-QUALIFIED root prefix every scanned path of `root`
    * carries in `_metadata.file_path` (the scan's inputs are
    * `root/<rel>`, qualified by the same fs). */
  private def prefixOf(spark: SparkSession, root: String): String = {
    val (fs, rootP) = Manifest.fsOf(spark, root)
    fs.makeQualified(rootP).toString.stripSuffix("/") + "/"
  }

  /** `path` (a `_metadata.file_path` column) as a ROOT-RELATIVE path
    * — the form DV artifacts store; raises on a path outside `root`.
    * Writers apply it only to the matched rows they persist. */
  def relPath(spark: SparkSession, root: String, path: Column): Column = {
    import org.apache.spark.sql.functions.{concat, raise_error, startswith, substring, when}
    val prefix = prefixOf(spark, root)
    when(startswith(path, lit(prefix)),
      substring(path, prefix.length + 1, Int.MaxValue))
      .otherwise(raise_error(concat(lit(mismatch(root, prefix)), path)))
  }

  private[sources] def mismatch(root: String, prefix: String): String =
    s"deletion-vector path mismatch under $root: expected prefix " +
      s"$prefix, scan saw "

  /** Cache keys of `dvs`: qualified artifact paths, sorted. */
  private def keysOf(spark: SparkSession, root: String,
                     dvs: Seq[String]): Seq[String] = {
    val (fs, rootP) = Manifest.fsOf(spark, root)
    dvs.map(d => fs.makeQualified(new Path(rootP, d)).toString).distinct.sorted
  }

  /** Per-file bitmaps of `dvs` merged (OR) — artifacts not yet cached
    * load together in ONE Spark job, each distributed task folding its
    * rows into bitmaps before anything is collected. */
  private def bitmaps(spark: SparkSession, root: String,
                      dvs: Seq[String]): Map[String, RoaringBitmap] = {
    val keys = keysOf(spark, root, dvs)
    val hits = keys.map(k => k -> cache.get(k)).filter(_._2 != null).toMap
    val missing = keys.filterNot(hits.contains)
    val loaded: Map[String, Map[String, RoaringBitmap]] =
      if (missing.isEmpty) Map.empty
      else {
        val rows = missing.zipWithIndex.map { case (k, i) =>
          spark.read.schema(ArtifactSchema).parquet(k)
            .select(col("file"), col("pos"), lit(i).as("artifact"))
        }.reduce(_ union _)
          .queryExecution.toRdd.mapPartitions(foldRows).collect()
          .groupBy(_._1)
        if (cache.size > 512) cache.clear()
        missing.zipWithIndex.map { case (k, i) =>
          val files = rows.getOrElse(i, Array.empty).groupBy(_._2)
            .map { case (f, bms) =>
              val bm = RoaringBitmap.or(bms.map(_._3): _*)
              bm.runOptimize()
              f -> bm
            }
          cache.put(k, files)
          k -> files
        }.toMap
      }
    keys.map(k => hits.getOrElse(k, loaded(k))) match {
      case Seq(one) => one
      case many => many.foldLeft(Map.empty[String, RoaringBitmap]) {
        (acc, m) => m.foldLeft(acc) { case (a, (f, bm)) =>
          a.updated(f, a.get(f).fold(bm)(RoaringBitmap.or(_, bm)))
        }
      }
    }
  }

  /** One task's (artifact, file, pos) rows → one bitmap per (artifact,
    * file). Row positions past the 32-bit bitmap range fail loudly
    * (a parquet file that large is never written by Spark's writers). */
  private def foldRows(rows: Iterator[InternalRow])
      : Iterator[(Int, String, RoaringBitmap)] = {
    val acc = mutable.HashMap.empty[(Int, String), RoaringBitmap]
    rows.foreach { r =>
      val pos = r.getLong(1)
      if (pos < 0L || pos > Int.MaxValue) throw new IllegalStateException(
        s"deletion-vector row position $pos of ${r.getUTF8String(0)} " +
          s"is outside [0, ${Int.MaxValue}]")
      acc.getOrElseUpdate((r.getInt(2), r.getUTF8String(0).toString),
        new RoaringBitmap).add(pos.toInt)
    }
    acc.iterator.map { case ((a, f), bm) => (a, f, bm) }
  }

  /** Root-relative files `dvs` delete rows from (live or not: callers
    * intersect with the snapshot they hold). */
  def filesWithDeletes(spark: SparkSession, root: String,
                       dvs: Seq[String]): Set[String] =
    if (dvs.isEmpty) Set.empty else bitmaps(spark, root, dvs).keySet

  /** Deleted-row count per root-relative file — exact even if two
    * artifacts named the same row. */
  def deletedPerFile(spark: SparkSession, root: String,
                     dvs: Seq[String]): Map[String, Long] =
    if (dvs.isEmpty) Map.empty
    else bitmaps(spark, root, dvs).map { case (f, bm) => f -> bm.getLongCardinality }

  /** The row predicate over a scan's `path` (`_metadata.file_path`) and
    * `pos` (`_metadata.row_index`): true where the row's deleted state
    * equals `deleted`. */
  def rowFilter(spark: SparkSession, root: String, dvs: Seq[String],
                deleted: Boolean,
                path: Column = col("_metadata.file_path"),
                pos: Column = col("_metadata.row_index")): Column =
    GraftDatasetFactory.column(DvRowFilter(
      GraftDatasetFactory.expression(path), GraftDatasetFactory.expression(pos),
      new DvSet(root, prefixOf(spark, root), keysOf(spark, root, dvs),
        bitmaps(spark, root, dvs)), deleted))

  /** `scan` (a parquet scan of files under `root`) minus every row `dvs`
    * delete — snapshot reads, time travel, OPTIMIZE, purge, change-feed
    * inserts. No DVs → the scan is returned untouched. */
  def dropDeleted(spark: SparkSession, root: String, scan: DataFrame,
                  dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) scan
    else scan.where(rowFilter(spark, root, dvs, deleted = false))

  /** Exactly the rows of `scan` that `dvs` delete — change-feed
    * `delete` events of a merge-on-read commit. */
  def keepDeleted(spark: SparkSession, root: String, scan: DataFrame,
                  dvs: Seq[String]): DataFrame =
    scan.where(rowFilter(spark, root, dvs, deleted = true))
}

/** The bitmaps one scan applies, keyed by root-relative file. Equality
  * is by (prefix, artifacts): artifacts are immutable, so two scans of
  * the same version compare equal (plan reuse, cache lookups) without
  * comparing bitmaps. */
final class DvSet(val root: String, val prefix: String,
                  val artifacts: Seq[String],
                  val byFile: Map[String, RoaringBitmap]) extends Serializable {

  /** Bitmap of the scanned file `path` (qualified), null when the file
    * has no deletes. */
  def bitmapOf(path: String): RoaringBitmap = {
    if (!path.startsWith(prefix)) throw new IllegalStateException(
      DeletionVectors.mismatch(root, prefix) + path)
    byFile.getOrElse(path.substring(prefix.length), null)
  }

  override def equals(o: Any): Boolean = o match {
    case d: DvSet => prefix == d.prefix && artifacts == d.artifacts
    case _ => false
  }
  override def hashCode: Int = (prefix, artifacts).##
  override def toString: String = s"dv[${byFile.size} files]"
}

/** Per-task probe state: the current file's bitmap, re-resolved only
  * when the scanned path changes. */
final class DvRowProbe(dv: DvSet) {
  private var ref: UTF8String = _  // the object last seen (fast path)
  private var seen: UTF8String = _ // a private copy of its bytes
  private var bits: RoaringBitmap = _

  def deleted(path: UTF8String, pos: Long): Boolean = {
    if (path == null || pos < 0L) throw new IllegalStateException(
      s"deletion-vector filter under ${dv.root} needs a file path and " +
        s"row index, saw ($path, $pos)")
    if (path ne ref) {
      if (seen == null || !path.equals(seen)) {
        seen = path.clone()
        bits = dv.bitmapOf(seen.toString)
      }
      ref = path
    }
    bits != null && pos <= Int.MaxValue && bits.contains(pos.toInt)
  }
}

/** `graft_dv_filter(file_path, row_index)`: true where the row's
  * deleted state (per `dv`) equals `deleted`. */
case class DvRowFilter(left: Expression, right: Expression, dv: DvSet,
                       deleted: Boolean) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (_: StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dv_filter requires (string, bigint), got " +
          s"${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "graft_dv_filter"

  @transient private lazy val probe = new DvRowProbe(dv)

  override def eval(input: InternalRow): Any = {
    val pos = right.eval(input)
    probe.deleted(left.eval(input).asInstanceOf[UTF8String],
      if (pos == null) -1L else pos.asInstanceOf[Long]) == deleted
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[DvRowProbe].getName
    val dvRef = ctx.addReferenceObj("dvSet", dv)
    val probe = ctx.addMutableState(cls, "dvProbe",
      v => s"$v = new $cls($dvRef);", forceInline = true)
    val p = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      ${r.code}
      boolean ${ev.value} = $probe.deleted(${p.isNull} ? null : ${p.value},
        ${r.isNull} ? -1L : ${r.value}) == $deleted;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvRowFilter =
    copy(left = newLeft, right = newRight)
}
