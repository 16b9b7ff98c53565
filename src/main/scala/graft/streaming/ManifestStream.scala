package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.GraftDatasetFactory
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.{DeletionVectors, Manifest, ManifestGroup}

/** STREAMING READ OF A MANIFEST TABLE — the incremental-consumption
  * leg of the lakehouse layer (Delta's streaming source / Iceberg's
  * incremental read): `spark.readStream.format(
  * "graft.streaming.ManifestStreamProvider").load(root)` turns the
  * commit log into an exactly-once micro-batch stream, each batch =
  * the files a committed version ADDED, served through the stock
  * vectorized parquet reader. Offsets ARE manifest versions, so the
  * checkpoint pins replay exactly (file lists are immutable), and a
  * restart resumes at the recorded version with no duplicates.
  *
  * Batch semantics are SNAPSHOT-DIFF: getBatch((v1, v2]) serves the
  * rows of `filesAt(v2) -- filesAt(v1)`. Under the append-only
  * discipline (plain [[Manifest.commit]] growth) that is exactly each
  * commit's new rows once. A REPLACEMENT commit (partition merge,
  * compaction) removes files; by default the source REFUSES at that
  * point — silently re-serving rewritten rows is how downstream
  * dedup breaks — unless `ignoreChanges=true`, which serves the
  * replacement's new files in full (the Delta `ignoreChanges`
  * contract: downstream must key-dedup, which
  * [[StreamingUpsert]]-style keyed merges do by construction).
  *
  * Options: `startingVersion` — `latest` (only commits after stream
  * start), a version number (exclusive base), default 0 = the full
  * current snapshot as the first batch. `ignoreChanges` as above.
  * `changeFeed=true` switches to ROW-LEVEL CDC (the Delta CDF
  * analog): the schema gains a trailing `_change_type` column and a
  * replacement commit emits its removed files' rows as `delete` plus
  * its added files' rows as `insert` — an erasure or compaction
  * propagates EXACTLY to a keyed downstream mirror (apply deletes by
  * key, then inserts), which is how a GDPR erasure reaches every
  * derived store. Deleted files must still exist: vacuum retention
  * must cover reader lag, the universal CDF contract.
  * `commitVersions=true` (with changeFeed) adds a `_commit_version`
  * column and decomposes a multi-commit offset range into PER-COMMIT
  * events — a catch-up batch then carries the commit HISTORY instead
  * of its net effect (a file added then removed inside the range
  * emits both sides), the Delta CDF `_commit_version` contract.
  * Retention: replaying from a vacuumed-away version fails loudly
  * (the manifest for the recorded offset is gone), matching every
  * table format's retention-vs-checkpoint contract.
  * `groupMeta=<metaRoot>` pins the stream to a [[ManifestGroup]]:
  * offsets become GROUP versions and each batch is the member's diff
  * between two group FLIPS, so a multi-table publish reaches the
  * stream all-or-nothing and the member's own not-yet-flipped commits
  * stay invisible (the group-read contract, for streams).
  *
  * Scale shape: getOffset is an O(versions) manifest-dir listing;
  * getBatch reads two O(files) manifest texts and plans a bounded
  * parquet scan over exactly the new files — commit-sized work per
  * trigger against an arbitrarily large table, no directory walks,
  * no modification-time heuristics (the weakness of the stock file
  * stream source this replaces). */
class ManifestStreamSource(spark: SparkSession, root: String,
                           dataSchema: StructType,
                           startVersion: Long,
                           ignoreChanges: Boolean,
                           changeFeed: Boolean,
                           commitVersions: Boolean = false,
                           group: Option[String] = None) extends Source {

  require(!commitVersions || changeFeed,
    "commitVersions=true needs changeFeed=true (per-commit attribution " +
      "is a change-feed concept)")

  /** GROUP-PINNED mode (`group=Some(metaRoot)`, round-11 verdict #7):
    * offsets are GROUP versions, and each batch is the member's
    * snapshot diff between two group FLIPS — the member's own commits
    * are invisible until a flip publishes them (exactly the
    * [[graft.sources.ManifestTableResolution]] group-read contract,
    * now for streams). A multi-table publish therefore reaches a
    * downstream consumer all-or-nothing: a flip mid-range is either
    * entirely inside the batch's pinned (fromG, toG] window or
    * entirely outside it — the two group mappings are read once per
    * getBatch, so no batch can straddle half a publish. Six streams
    * (one per GA member table) pinned to one group see consistent
    * cut-points by construction: the offsets ARE the publishes. */
  private def memberVersion(offsetV: Long): Long = group match {
    case None => offsetV
    case Some(meta) =>
      if (offsetV <= 0L) 0L
      else ManifestGroup.readGroup(spark, meta, offsetV)
        .getOrElse(ManifestGroup.normKey(root), 0L)
  }

  /** Committed offsets in (fromV, toV] — manifest versions, or group
    * versions when group-pinned. */
  private def offsetsBetween(fromV: Long, toV: Long): Seq[Long] =
    (group match {
      case None => Manifest.versions(spark, root)
      case Some(meta) => ManifestGroup.versions(spark, meta)
    }).filter(v => v > fromV && v <= toV)

  override val schema: StructType =
    if (changeFeed) {
      val ct = ManifestStreamProvider.withChangeType(dataSchema)
      if (commitVersions) ManifestStreamProvider.withCommitVersion(ct) else ct
    } else dataSchema

  private def ver(o: Offset): Long = o.json.toLong

  private def filesOf(v: Long): Seq[String] = {
    val mv = memberVersion(v)
    if (mv <= 0L) Nil else Manifest.filesAt(spark, root, mv)
  }

  /** The rows of `files`, as a STREAMING-marked relation (what
    * MicroBatchExecution requires of a V1 getBatch result). When the
    * table's effective schema declares a COLUMN MAPPING (RENAME
    * COLUMN), the scan expands each renamed column's prior physical
    * names and coalesces the family back — pre-rename files stream
    * their rows under the logical name instead of null-filling. */
  private def fileDf(files: Seq[String]): DataFrame = {
    val rootP = new Path(root)
    val mapping = Manifest.current(spark, root).map(_._1)
      .flatMap(cv => Manifest.schemaAt(spark, root, cv))
      .filter(Manifest.hasColumnMapping)
    val byName = mapping.map(_.fields.map(f => f.name -> f).toMap)
      .getOrElse(Map.empty)
    def physOf(name: String): Seq[String] =
      byName.get(name).map(Manifest.physicalNamesOf).getOrElse(Nil)
    val scanSchema = StructType(dataSchema.fields.flatMap { f =>
      f +: physOf(f.name).map(p =>
        org.apache.spark.sql.types.StructField(p, f.dataType,
          nullable = true))
    })
    val idx = new InMemoryFileIndex(spark, files.map(new Path(rootP, _)),
      Map("basePath" -> root), Some(scanSchema))
    val partSchema = idx.partitionSchema
    val ds = StructType(
      scanSchema.filterNot(f => partSchema.fieldNames.contains(f.name)))
    val rel = HadoopFsRelation(idx, partSchema, ds, None,
      new ParquetFileFormat, Map("basePath" -> root))(spark)
    val base = GraftDatasetFactory.ofRows(spark,
      LogicalRelation(rel, isStreaming = true))
    if (byName.isEmpty) base
    else {
      import org.apache.spark.sql.functions.{coalesce, col}
      base.select(dataSchema.fields.map { f =>
        val phys = physOf(f.name)
        if (phys.isEmpty) col(f.name)
        else coalesce((f.name +: phys).map(col): _*).as(f.name)
      }.toSeq: _*)
    }
  }

  override def getOffset: Option[Offset] = (group match {
    case None => Manifest.current(spark, root).map(_._1)
    case Some(meta) => ManifestGroup.currentGroup(spark, meta).map(_._1)
  }).map(LongOffset(_)).filter(_.offset > startVersion)

  private def dvsOf(v: Long): Seq[String] = {
    val mv = memberVersion(v)
    if (mv <= 0L) Nil else Manifest.dvsAt(spark, root, mv)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromV = start.map(ver).getOrElse(startVersion)
    val toV = ver(end)
    if (changeFeed && commitVersions) {
      // PER-COMMIT granularity (Delta CDF's `_commit_version`): one
      // offset range may span several commits (a restarted reader
      // catching up); the snapshot-diff over the whole range NETS OUT
      // a file added then removed inside it, which is fine for a
      // convergent mirror but loses the commit history an auditor or
      // ordered applier needs. Here the range decomposes into its
      // committed version STEPS — each step's events computed by the
      // same endpoint-diff logic, tagged with the version that
      // published them — so replaying steps in `_commit_version`
      // order IS replaying the log. Vacuumed-away intermediate
      // manifests collapse their steps into the next surviving
      // version (their net effect attributed there), the same
      // retention-vs-lag contract as everywhere else.
      import org.apache.spark.sql.functions.lit
      val steps = offsetsBetween(fromV, toV)
      // a lagging checkpoint plus aggressive vacuum retention can
      // leave NO retained version in (fromV, toV] — the offsets the
      // checkpoint recorded were vacuumed away; fail with the same
      // loud retention contract as a missing manifest, never an
      // opaque empty.reduce crash
      if (steps.isEmpty) throw new IllegalStateException(
        s"manifest stream over $root: no retained version in " +
          s"($fromV, $toV] — vacuum retention dropped the manifests " +
          s"this checkpointed offset range needs; keep more versions " +
          s"(Manifest.vacuum keepVersions) than the reader's lag")
      val frames = steps.foldLeft((fromV, Vector.empty[DataFrame])) {
        case ((prev, acc), v2) =>
          (v2, acc :+ cdcEvents(prev, v2)
            .withColumn("_commit_version", lit(v2)))
      }._2
      return frames.reduce(_ unionByName _)
    }
    if (changeFeed) return cdcEvents(fromV, toV)
    val before = filesOf(fromV).toSet
    val now = filesOf(toV)
    val removed = (before -- now.toSet).toSeq.sorted
    val added = now.filterNot(before)
    // DELETION VECTORS in the range: artifacts the range added name
    // rows deleted WITHOUT a file change (merge-on-read). Rows of
    // files already served (live at fromV) are retractions; rows of
    // files this same batch adds were simply never live — the insert
    // side filters them, no event needed. A purge commit shows up as
    // plain file replacement (its DV refs drop, dvAdded is empty) and
    // the existing removed/added handling is exact for it.
    val dvBefore = dvsOf(fromV)
    val dvAfter = dvsOf(toV)
    val dvAdded = dvAfter.filterNot(dvBefore.toSet)
    // DV'd files that were live at fromV → already-served rows deleted
    val dvTouchedBefore = DeletionVectors
      .filesWithDeletes(spark, root, dvAdded).filter(before).toSeq.sorted
    if ((removed.nonEmpty || dvTouchedBefore.nonEmpty) && !ignoreChanges)
      throw new IllegalStateException(
        s"manifest stream over $root: version range ($fromV, $toV] " +
          s"REMOVED ${removed.size} file(s) and deleted rows from " +
          s"${dvTouchedBefore.size} already-served file(s) " +
          s"(replacement/compaction/merge-on-read-delete commit) — an " +
          s"append-only stream cannot represent that exactly. Re-run " +
          s"with changeFeed=true to receive row-level delete+insert " +
          s"events, ignoreChanges=true if the sink key-dedups (e.g. a " +
          s"keyed merge), or stream the table before compaction.")
    DeletionVectors.dropDeleted(spark, root, fileDf(added), dvAfter)
  }

  /** ROW-LEVEL CHANGE FEED events of the version range (the Delta CDF
    * contract): removed files' rows emit as `delete` (minus rows
    * already deleted at `fromV` — those events were emitted when
    * their DV landed), added files' rows as `insert` (minus rows a DV
    * in the same range deleted — never live), and a DV addition emits
    * exactly its named rows of already-served files as `delete`. A
    * replacement commit (erasure, compaction, partition merge)
    * becomes delete(old partition rows) + insert(survivors); a
    * merge-on-read delete becomes just its deletes — either way a
    * keyed mirror applies the batch exactly. Deleted files must still
    * be on disk: vacuum retention (minAgeMs / keepVersions) must
    * cover the reader's lag, every table format's CDF contract. */
  private def cdcEvents(fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val before = filesOf(fromV).toSet
    val now = filesOf(toV)
    val removed = (before -- now.toSet).toSeq.sorted
    val added = now.filterNot(before)
    val dvBefore = dvsOf(fromV)
    val dvAfter = dvsOf(toV)
    val dvAdded = dvAfter.filterNot(dvBefore.toSet)
    val dvTouchedBefore = DeletionVectors
      .filesWithDeletes(spark, root, dvAdded).filter(before).toSeq.sorted
    val inserts = DeletionVectors.dropDeleted(spark, root, fileDf(added), dvAfter)
      .withColumn("_change_type", lit("insert"))
    val removedDeletes =
      DeletionVectors.dropDeleted(spark, root, fileDf(removed), dvBefore)
        .withColumn("_change_type", lit("delete"))
    val dvDeletes =
      if (dvTouchedBefore.isEmpty) None
      else Some(DeletionVectors.keepDeleted(spark, root,
          fileDf(dvTouchedBefore.filter(now.toSet)), dvAdded)
        .withColumn("_change_type", lit("delete")))
    dvDeletes.foldLeft(inserts.unionByName(removedDeletes))(_ unionByName _)
  }

  override def stop(): Unit = ()
}

/** `spark.readStream.format("graft.streaming.ManifestStreamProvider")`
  * — V1 streaming source provider (the stable micro-batch SPI; the
  * file stream source itself still ships on it). */
object ManifestStreamProvider {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** The CDF schema: the data schema plus a trailing `_change_type`
    * (`insert` | `delete`); idempotent when already present. */
  def withChangeType(s: StructType): StructType =
    if (s.fieldNames.contains(ChangeTypeCol)) s
    else s.add(ChangeTypeCol, org.apache.spark.sql.types.StringType,
      nullable = false)

  /** `commitVersions=true` additionally tags every event with the
    * manifest version that published it. */
  def withCommitVersion(s: StructType): StructType =
    if (s.fieldNames.contains(CommitVersionCol)) s
    else s.add(CommitVersionCol, org.apache.spark.sql.types.LongType,
      nullable = false)

  /** Strip a user-supplied CDF schema back to the data schema. */
  private[streaming] def withoutChangeType(s: StructType): StructType =
    StructType(s.filterNot(f =>
      f.name == ChangeTypeCol || f.name == CommitVersionCol))
}

class ManifestStreamProvider extends StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "manifest stream needs a path: readStream.format(...).load(<root>)"))

  private def changeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  private def groupOf(parameters: Map[String, String]): Option[String] =
    parameters.get("groupMeta")

  private def commitVersionsOf(parameters: Map[String, String]): Boolean =
    parameters.get("commitVersions").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    // option-pairing validation lives HERE too, not only in the
    // source constructor: the schema probe runs first, and happily
    // appending _commit_version for an invalid pairing would let the
    // failure surface only after schema negotiation
    require(!commitVersionsOf(parameters) || changeFeedOf(parameters),
      "commitVersions=true needs changeFeed=true (per-commit " +
        "attribution is a change-feed concept)")
    val data = schema.map(ManifestStreamProvider.withoutChangeType)
      .getOrElse(Manifest.read(sqlContext.sparkSession,
        rootOf(parameters)).schema)
    val cdf =
      if (changeFeedOf(parameters))
        ManifestStreamProvider.withChangeType(data)
      else data
    (shortName(),
      if (commitVersionsOf(parameters))
        ManifestStreamProvider.withCommitVersion(cdf)
      else cdf)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val data = schema.map(ManifestStreamProvider.withoutChangeType)
      .getOrElse(Manifest.read(spark, root).schema)
    val group = groupOf(parameters)
    val startVersion = parameters.get("startingVersion") match {
      case Some("latest") => group match {
        case None => Manifest.current(spark, root).map(_._1).getOrElse(0L)
        case Some(meta) =>
          ManifestGroup.currentGroup(spark, meta).map(_._1).getOrElse(0L)
      }
      case Some(v) => v.toLong
      case None => 0L
    }
    val ignoreChanges =
      parameters.get("ignoreChanges").exists(_.toBoolean)
    new ManifestStreamSource(spark, root, data, startVersion,
      ignoreChanges, changeFeedOf(parameters),
      commitVersionsOf(parameters), group)
  }
}
