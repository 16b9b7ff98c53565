package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Manifest, ManifestGroup}

/** Keyed erasure — the right-to-be-forgotten DELETE a serving store
  * must honor (GDPR art. 17 / CCPA): every row belonging to a set of
  * data subjects disappears from the table, an audit ledger records
  * what was erased, and at 100 TB the rewrite touches only the
  * partitions that actually held the subjects' rows.
  *
  * Complements [[Upsert]]: MERGE replaces matched rows with new
  * versions; erasure removes them. A deletion request carries NO
  * partition column — a subject's rows may sit under any partition —
  * so, unlike [[Upsert.upsertPartitionScopedAtomic]], the touched
  * leaves cannot be read off the request batch. They come from one
  * narrow key+partition projection of the target (columnar scan of a
  * few thin columns, the same stats pass a table format answers from
  * its file-level indexes), after which only the affected leaves are
  * read in full and rewritten.
  *
  * Every form publishes through the [[graft.sources.Manifest]] commit
  * log: copy-on-write for one table ([[erasePartitionScopedAtomic]])
  * or a [[graft.sources.ManifestGroup]] of tables
  * ([[eraseGroupAtomic]]), deletion vectors for a group
  * ([[eraseGroupDv]]). In the copy-on-write forms a leaf whose every
  * row matched stages no file, so it leaves the snapshot with the
  * commit.
  */
object Erasure {

  /** Pure transform: rows of `target` whose key appears in `subjects`
    * are dropped. `subjects` is a deletion-request batch — small by
    * contract (bounded by the requests received, not by the data), so
    * it broadcasts and the target never shuffles. */
  def erase(target: DataFrame, subjects: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "erase needs at least one key column")
    target.join(broadcast(subjects.select(keys.map(col): _*).distinct()),
      keys, "left_anti")
  }

  /** Partition-scoped erasure of one manifest table, with an audit
    * ledger, at any partitioning depth (the reference's own layout is
    * three-level `year=/month=/day=`, `collector-ga.yaml:199` — a GDPR
    * batch against it must prune and replace LEAVES; one level is
    * `Seq(partCol)`). Surviving rows stage as fresh appended files
    * (nothing overwritten), and a FULLY-erased leaf has no staged
    * files, so it is absent from the published manifest the instant
    * the rename lands (vacuum reclaims the bytes afterwards). The
    * publish is [[graft.sources.Manifest.commitLeafReplacementCas]]
    * against the version the erasure read: a concurrent commit to a
    * touched leaf aborts loudly instead of resurrecting or dropping
    * rows. Crash anywhere: manifest readers see exactly the old or
    * exactly the new snapshot. The ledger has one row per requested
    * key, zeros included, so the audit trail proves every request was
    * processed; it is written AFTER the commit, so a ledger row means
    * the erasure is live. */
  def erasePartitionScopedAtomic(spark: SparkSession, targetPath: String,
                                 partCols: Seq[String], subjects: DataFrame,
                                 keys: Seq[String], batchId: String,
                                 ledgerPath: Option[String] = None,
                                 keepVersions: Int = 1): Unit = {
    require(keys.nonEmpty, "erase needs at least one key column")
    require(partCols.nonEmpty,
      "use deleteMatching (merge-on-read) for unpartitioned trees")
    partCols.foreach(pc => require(!keys.contains(pc),
      s"$pc partitions the tree; key on the subject id columns"))
    val (fs, root) = Manifest.fsOf(spark, targetPath)
    require(fs.exists(root), s"erasure target $targetPath does not exist")
    Manifest.bootstrap(spark, targetPath) // adopt a plain tree idempotently
    val subj = subjects.select(keys.map(col): _*).distinct().persist()
    try {
      val (base, live) = Manifest.current(spark, targetPath).get
      val (touched, created, ledger) = stageErasure(spark, targetPath,
        partCols, base, live, subj, keys, Seq(lit(batchId).as("batch_id")))
      if (touched.nonEmpty) {
        Manifest.commitLeafReplacementCas(spark, targetPath, partCols, base,
          touched, created)
        Manifest.vacuum(spark, targetPath, keepVersions)
      }
      ledgerPath.foreach(lp =>
        ledger.write.mode(SaveMode.Append).parquet(lp))
    } finally subj.unpersist()
  }

  /** Plan and STAGE one table's copy-on-write erasure against version
    * `base` (live files `live`), publishing nothing:
    *
    *   1. ONE narrow projection (keys + partition columns) of the
    *      snapshot, semi-joined against the broadcast subjects and
    *      persisted — it answers both the touched-leaf set and the
    *      per-subject erased-row counts.
    *   2. The ledger (every requested key, zeros included; `extra`
    *      columns between the count and `n_partitions_touched`) is
    *      pinned with an eager localCheckpoint BEFORE the rewrite: its
    *      lineage reads the very files the rewrite replaces.
    *   3. Only the live files under touched leaves are read (a manifest
    *      file subset), anti-joined, and staged through
    *      [[graft.sources.Manifest.stageUniqueParts]]; a fully-erased
    *      leaf stages no file.
    *
    * Returns (touched leaf dirs, staged files, ledger). */
  private def stageErasure(spark: SparkSession, root: String,
                           partCols: Seq[String], base: Long,
                           live: Seq[String], subj: DataFrame,
                           keys: Seq[String], extra: Seq[Column])
      : (Set[String], Seq[String], DataFrame) = {
    val matched = Manifest.readSubset(spark, root, live, base)
      .select((keys ++ partCols).map(col): _*)
      .join(broadcast(subj), keys, "left_semi")
      .persist()
    try {
      val touched = PartitionScope.touchedLeaves(matched, partCols)
      val erasedPerKey = matched.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_rows_erased"))
      val ledger = subj
        .join(erasedPerKey, keys, "left")
        .select(keys.map(col) ++
          (coalesce(col("n_rows_erased"), lit(0L)).as("n_rows_erased") +:
            extra :+ lit(touched.size.toLong).as("n_partitions_touched")): _*)
        // bounded by the request batch — keep the audit file count sane
        .coalesce(1)
        .localCheckpoint(true)
      val created =
        if (touched.isEmpty) Nil
        else {
          val (fs, rootP) = Manifest.fsOf(spark, root)
          val affected = Manifest.readSubset(spark, root,
            live.filter(f => touched(Manifest.leafDirOf(f, partCols))), base)
          Manifest.stageUniqueParts(spark, fs, rootP, partCols,
            affected.join(broadcast(subj), keys, "left_anti"))
        }
      (touched, created, ledger)
    } finally matched.unpersist()
  }

  /** CROSS-TABLE erasure, all-or-nothing: a data subject's rows
    * disappear from EVERY member of a [[graft.sources.ManifestGroup]]
    * with ONE pointer flip — there is no window where sessions are
    * erased but pageviews still serve the subject (the compliance gap
    * a six-table serving layer has when each table erases on its own
    * schedule). Per member the mechanics are
    * [[erasePartitionScopedAtomic]]'s: one thin key+partition
    * projection finds the touched partitions, only those rewrite, and
    * the rewritten files STAGE; then each touched member commits
    * through [[graft.sources.Manifest.commitLeafReplacementCas]]
    * against the version it staged from (a rival commit on another
    * leaf rebases in, one on a touched leaf aborts the run before the
    * flip), and ONE group flip publishes them all. A crash or abort
    * anywhere before the flip leaves group readers on the pre-erasure
    * (consistent) set. Members whose tables never held the subjects
    * are left untouched and carry forward in the flip. The ledger
    * records one row per (member, subject) — zero-match rows
    * included, so the audit trail proves every request was processed
    * against every member. Returns the published (group version,
    * member→version).
    *
    * All members key on the same subject column names (`keys`) —
    * build serving layouts with a canonical subject-id column, the
    * discipline a GDPR-ready store needs anyway. */
  def eraseGroupAtomic(spark: SparkSession, metaRoot: String,
                       members: Seq[(String, String)],
                       subjects: DataFrame, keys: Seq[String],
                       batchId: String,
                       ledgerPath: Option[String] = None)
      : (Long, Map[String, Long]) = {
    require(keys.nonEmpty, "erase needs at least one key column")
    members.foreach { case (root, pc) => require(!keys.contains(pc),
      s"$pc partitions $root; key on the subject id columns") }
    val subj = subjects.select(keys.map(col): _*).distinct().persist()
    try {
      // members stage independently (separate roots, nothing shared
      // until the group publish) — overlap their Spark jobs so the next
      // member's tasks back-fill each member's stage tail; input order
      // is preserved, so ledger writes and the flip map are identical
      // to the sequential form
      val staged = graft.Par.ordered(members) { case (root, partCol) =>
        Manifest.bootstrap(spark, root)
        val (base, live) = Manifest.current(spark, root).get
        if (live.isEmpty) {
          // an empty member holds nobody's data; ledger still proves
          // every request was processed against it
          val ledger = subj.select(keys.map(col) ++ Seq(
            lit(0L).as("n_rows_erased"), lit(root).as("member"),
            lit(batchId).as("batch_id"),
            lit(0L).as("n_partitions_touched")): _*)
            .coalesce(1).localCheckpoint(true)
          (root, None, ledger)
        } else {
          val (touched, created, ledger) = stageErasure(spark, root,
            Seq(partCol), base, live, subj, keys,
            Seq(lit(root).as("member"), lit(batchId).as("batch_id")))
          val commit =
            if (touched.isEmpty) None
            else Some(() => Manifest.commitLeafReplacementCas(spark, root,
              Seq(partCol), base, touched, created))
          (root, commit, ledger)
        }
      }
      // every member staged: each touched one commits through its own
      // CAS against the version it staged from, then ONE flip
      val committed = staged.collect {
        case (root, Some(commit), _) => root -> commit()
      }.toMap
      val published =
        if (committed.nonEmpty) ManifestGroup.flip(spark, metaRoot, committed)
        else ManifestGroup.currentGroup(spark, metaRoot)
          .getOrElse((0L, Map.empty[String, Long])) // nothing matched anywhere
      ledgerPath.foreach { lp =>
        staged.foreach { case (_, _, l) =>
          l.write.mode(SaveMode.Append).parquet(lp) }
      }
      published
    } finally subj.unpersist()
  }

  /** Cross-table GDPR erasure, MERGE-ON-READ (the deletion-vector twin
    * of [[eraseGroupAtomic]]): each member commits an O(deleted rows)
    * (file, pos) artifact — ZERO data files rewritten anywhere — and
    * ONE group flip makes every member's erasure visible together.
    * Group-pinned readers never see a window where one table is erased
    * and another still serves the subject; a crash before the flip
    * leaves all members on the consistent pre-erasure publish (the
    * committed DV versions wait, unreferenced by any group, until the
    * re-run flips or vacuum reclaims them).
    *
    * At 100 TB this is the erasure cost model that actually works: the
    * copy-on-write variant rewrites every touched partition of every
    * member; this writes bytes proportional to the subjects' rows.
    * Read amplification (the scan-side anti-join) amortizes until a
    * scheduled [[graft.sources.Manifest.purgeDeletes]] per member.
    *
    * No partition columns are needed at all — the DV names rows by
    * physical position, so members may be partitioned arbitrarily (or
    * not at all). Ledger: one row per (member, subject key) with the
    * exact rows erased, including zero-match proofs — the audit trail
    * that every request was processed against every member. */
  def eraseGroupDv(spark: SparkSession, metaRoot: String,
                   members: Seq[String], subjects: DataFrame,
                   keys: Seq[String], batchId: String,
                   ledgerPath: Option[String] = None)
      : (Long, Map[String, Long]) = {
    require(keys.nonEmpty, "erase needs at least one key column")
    val subj = subjects.select(keys.map(col): _*).distinct().persist()
    try {
      // per-member DV builds are independent until the single flip —
      // overlap their jobs (see eraseGroupAtomic)
      val results = graft.Par.ordered(members) { root =>
        Manifest.bootstrap(spark, root)
        val empty = Manifest.current(spark, root).forall(_._2.isEmpty)
        // ledger BEFORE the delete (its lineage reads the pre-delete
        // snapshot), eagerly pinned — the stageErasure rule
        val erasedPerKey =
          if (empty) subj.limit(0).withColumn("n_rows_erased", lit(0L))
          else Manifest.read(spark, root)
            .join(broadcast(subj), keys, "left_semi")
            .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows_erased"))
        val ledger = subj.join(erasedPerKey, keys, "left")
          .select(keys.map(col) ++ Seq(
            coalesce(col("n_rows_erased"), lit(0L)).as("n_rows_erased"),
            lit(root).as("member"), lit(batchId).as("batch_id")): _*)
          .coalesce(1).localCheckpoint(true)
        val (v, n) =
          if (empty)
            (Manifest.current(spark, root).map(_._1).getOrElse(
              Manifest.commit(spark, root, Nil)), 0L)
          else Manifest.deleteMatching(spark, root, subj, keys)
        (root, v, n, ledger)
      }
      // every member's DV version is committed but no group references
      // it yet — the crash window leaves group readers consistent; ONE
      // flip moves all members together
      val flipped = ManifestGroup.flip(spark, metaRoot,
        results.map { case (r, v, _, _) => r -> v }.toMap)
      ledgerPath.foreach { lp =>
        results.foreach { case (_, _, _, l) =>
          l.write.mode(SaveMode.Append).parquet(lp) }
      }
      flipped
    } finally subj.unpersist()
  }
}
