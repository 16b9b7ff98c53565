package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** BATCH change-data read of a manifest table — the `table_changes(t,
  * v1, v2)` table-valued function (round-12 verdict #5; Delta's public
  * CDF design exposes the change feed as a batch TVF next to the
  * streaming source, because an auditor or a backfill job consumes
  * row-level history as a bounded query, not a stream). Semantics are
  * the streaming source's `changeFeed + commitVersions` contract
  * exactly ([[graft.streaming.ManifestStreamSource]]): the version
  * range (v1, v2] decomposes into its committed STEPS; each step's
  * events are the endpoint diff — removed files' rows as `delete`
  * (minus rows already dead at the step base), added files' rows as
  * `insert` (minus rows a same-step DV killed), a deletion vector's
  * rows of already-live files as `delete` — tagged `_change_type` and
  * `_commit_version`, so replaying steps in `_commit_version` order IS
  * replaying the log. Vacuumed-away intermediate versions collapse
  * their net effect into the next surviving version; a range whose
  * versions are ALL gone fails loudly with the retention message.
  *
  * Schema: every step reads with the DECLARED schema effective at the
  * range end (schema-in-log when present, else the end snapshot's
  * inferred schema) — deterministic union semantics across evolved
  * files, null-fill for columns a step's files predate.
  *
  * Scale shape: O(steps) manifest text reads; each step plans a
  * bounded parquet scan over exactly its changed files — never a
  * table scan. */
object ManifestCdc {

  /** The change events of `(fromV, toV]` under `root`.
    * `declaredSchema`: the catalog table's schema when the TVF was
    * addressed by table name — beats both the schema sidecar and
    * inference (a raw-path call falls back to sidecar, then to
    * end-snapshot inference). */
  def tableChanges(spark: SparkSession, root: String,
                   fromV: Long, toV: Long,
                   declaredSchema: Option[org.apache.spark.sql.types.StructType]
                     = None): DataFrame = {
    require(fromV >= 0 && toV >= fromV,
      s"table_changes needs 0 <= from <= to, got ($fromV, $toV]")
    val all = Manifest.versions(spark, root)
    require(all.nonEmpty, s"no committed manifest under $root")
    require(toV <= all.max,
      s"version $toV is not committed under $root (head: ${all.max})")
    val dataSchema = declaredSchema.getOrElse {
      // declared-at-end schema: deterministic across evolved steps
      val endV = all.filter(_ <= toV).maxOption.getOrElse(all.max)
      Manifest.schemaAt(spark, root, endV).getOrElse {
        val files = Manifest.filesAt(spark, root, endV)
        if (files.isEmpty) throw new IllegalStateException(
          s"cannot infer a schema from the empty snapshot v$endV of " +
            s"$root — write a schema sidecar (Manifest.writeSchema)")
        ParquetSchema.infer(spark, files.map(f => new Path(root, f).toString),
          Map("basePath" -> root))
      }
    }
    val steps = all.filter(v => v > fromV && v <= toV)
    if (steps.isEmpty && fromV < toV) throw new IllegalStateException(
      s"table_changes over $root: no retained version in ($fromV, $toV] " +
        s"— vacuum retention dropped the manifests this range needs")
    val frames = steps.foldLeft((fromV, Vector.empty[DataFrame])) {
      case ((prev, acc), v2) =>
        (v2, acc :+ events(spark, root, dataSchema, prev, v2)
          .withColumn("_commit_version", lit(v2)))
    }._2
    if (frames.isEmpty) // empty range: zero events, full CDF schema
      events(spark, root, dataSchema, fromV, fromV)
        .withColumn("_commit_version", lit(fromV)).limit(0)
    else frames.reduce(_ unionByName _)
  }

  /** One step's row-level events — the batch twin of the streaming
    * source's cdcEvents (plain reads, no streaming marker). */
  private def events(spark: SparkSession, root: String,
                     dataSchema: org.apache.spark.sql.types.StructType,
                     fromV: Long, toV: Long): DataFrame = {
    val rootP = new Path(root)
    def filesOf(v: Long): Seq[String] =
      if (v <= 0L) Nil else Manifest.filesAt(spark, root, v)
    def dvsOf(v: Long): Seq[String] =
      if (v <= 0L) Nil else Manifest.dvsAt(spark, root, v)
    def read(files: Seq[String]): DataFrame =
      spark.read.option("basePath", root).schema(dataSchema)
        .parquet(files.map(f => new Path(rootP, f).toString): _*)
    // an empty file set gets a schema-only frame WITHOUT the DV filter:
    // `_metadata.file_path` only exists on a real file scan
    def empty(tag: String): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
        .withColumn("_change_type", lit(tag))
    val before = filesOf(fromV).toSet
    val now = filesOf(toV)
    val removed = (before -- now.toSet).toSeq.sorted
    val added = now.filterNot(before)
    val dvBefore = dvsOf(fromV)
    val dvAfter = dvsOf(toV)
    val dvAdded = dvAfter.filterNot(dvBefore.toSet)
    val dvTouchedBefore =
      DeletionVectors.filesWithDeletes(spark, root, dvAdded).filter(before)
    val inserts =
      if (added.isEmpty) empty("insert")
      else DeletionVectors.dropDeleted(spark, root, read(added), dvAfter)
        .withColumn("_change_type", lit("insert"))
    val removedDeletes =
      if (removed.isEmpty) empty("delete")
      else DeletionVectors.dropDeleted(spark, root, read(removed), dvBefore)
        .withColumn("_change_type", lit("delete"))
    val stillLive = now.filter(dvTouchedBefore).sorted
    val dvDeletes =
      if (stillLive.isEmpty) None
      else Some(DeletionVectors.keepDeleted(spark, root, read(stillLive),
          dvAdded)
        .withColumn("_change_type", lit("delete")))
    dvDeletes.foldLeft(inserts.unionByName(removedDeletes))(_ unionByName _)
  }
}
