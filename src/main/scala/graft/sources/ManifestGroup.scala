package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** ATOMIC MULTI-TABLE PUBLISH — the cross-table transaction the
  * reference's daily job implies: one run exports SIX serving tables
  * (sessions + five hit types, `functions/ga_pipeline.py`'s export
  * fan-out), and with only per-table commits a reader can catch
  * sessions already updated while pageviews still serve yesterday —
  * the inconsistent-read window every multi-table pipeline has until
  * it grows a transaction log (Delta's multi-table gap; Iceberg/Nessie
  * catalogs close it the same way this does: a pointer flip).
  *
  * Mechanics: a GROUP LOG at `metaRoot/_graft_group/group-<g>` maps
  * each member table's root to a pinned manifest VERSION
  * (`escapedRoot\tversion` lines). A writer commits each member
  * through that member's own CAS against the version it planned from
  * ([[Manifest.commitRewriteCas]] / [[Manifest.commitLeafReplacementCas]]
  * — a rival commit on a member rebases in or aborts the run there),
  * then calls [[flip]] once with the committed versions. Until the
  * flip those versions are referenced by NOTHING — a crash or abort
  * leaves group readers on the old consistent set, with the new
  * versions as plain vacuum-eligible heads. The flip is the ONE atomic
  * step, the SAME one-rename CAS the per-table log uses: before it, no
  * reader sees any new version; after it, every reader sees all of
  * them.
  *
  * Readers: [[GraftTable.register]]`(..., group = Some(metaRoot))`
  * marks a catalog table group-pinned; [[ManifestTableResolution]]
  * then resolves its version FROM THE GROUP (one group read per
  * analysis, so a multi-table query resolves every member against
  * the same group version — no intra-query mix) instead of the
  * table's own head. Tables keep their own manifests for time travel
  * and vacuum; the group only decides WHICH version serves.
  *
  * Concurrent group publishers: the CAS loser re-reads the group and
  * retries, but ABORTS (regression guard) if the current group
  * already references a NEWER version of any table it is publishing —
  * flipping a table backwards would un-publish a rival's committed
  * data. Single-group-writer deployments (the reference's daily job)
  * never hit it; racers get linear group versions or a loud error.
  *
  * Retention: vacuum on a member table must keep every version a
  * retained group references (`keepVersions` ≥ the table's commits
  * per group cycle); the group log itself is O(tables) text per
  * version and never needs data IO. */
object ManifestGroup {

  val Dir = "_graft_group"

  /** Canonical key for a member table root (scheme-free absolute
    * path) — registration, flip, and resolution must agree on it
    * regardless of how the caller spelled the path. */
  def normKey(root: String): String = new Path(root).toUri.getPath

  /** Committed group versions under `metaRoot`, ascending. */
  def versions(spark: SparkSession, metaRoot: String): Seq[Long] = {
    val (fs, rootP) = Manifest.fsOf(spark, metaRoot)
    val dir = new Path(rootP, Dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("group-") && !n.endsWith(".tmp"))
      .map(_.stripPrefix("group-").toLong).sorted.toSeq
  }

  /** The table→version mapping of group version `g`. A vacuumed-away
    * group fails with the retention contract every replay face uses —
    * a group-pinned STREAM resuming from an old offset hits this, and
    * the message must say "keep more groups", not FileNotFound. */
  def readGroup(spark: SparkSession, metaRoot: String, g: Long)
      : Map[String, Long] = {
    val (fs, rootP) = Manifest.fsOf(spark, metaRoot)
    val p = new Path(new Path(rootP, Dir), f"group-$g%020d")
    if (!fs.exists(p)) throw new IllegalStateException(
      s"group version $g of $metaRoot is not retained — vacuumGroup " +
        s"removed it; keep more groups than the reader's lag")
    val in = fs.open(p)
    val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    text.split("\n").filter(_.nonEmpty).map { ln =>
      val Array(r, v) = ln.split("\t")
      ExternalCatalogUtils.unescapePathName(r) -> v.toLong
    }.toMap
  }

  /** (group version, table→version mapping) of the highest committed
    * group, if any. */
  def currentGroup(spark: SparkSession, metaRoot: String)
      : Option[(Long, Map[String, Long])] = {
    val vs = versions(spark, metaRoot)
    if (vs.isEmpty) None else Some((vs.max, readGroup(spark, metaRoot, vs.max)))
  }

  /** GROUP-AWARE retention: keep the newest `keepGroups` group
    * versions fully replayable — every member table retains its own
    * head (a committed-but-not-yet-flipped version must survive; its
    * flip is still coming) PLUS every version a retained group
    * references, and vacuums the rest through [[Manifest.vacuum]]'s
    * `keepAlso` pin; older group files are then dropped. Members are
    * discovered from the retained groups themselves (the union of
    * their mappings), so callers can't forget one. `minAgeMs` is the
    * same concurrent-stager grace window as the per-table vacuum. */
  def vacuumGroup(spark: SparkSession, metaRoot: String,
                  keepGroups: Int = 1, minAgeMs: Long = 0L): Unit = {
    require(keepGroups >= 1, "must retain at least the current group")
    val gs = versions(spark, metaRoot)
    if (gs.isEmpty) return
    val keptGs = gs.takeRight(keepGroups)
    val mappings = keptGs.map(readGroup(spark, metaRoot, _))
    val members: Map[String, Set[Long]] = mappings.flatten
      .groupBy(_._1).map { case (r, vs) => r -> vs.map(_._2).toSet }
    members.foreach { case (root, referenced) =>
      Manifest.vacuum(spark, root, keepVersions = 1, minAgeMs = minAgeMs,
        keepAlso = referenced)
    }
    val (fs, rootP) = Manifest.fsOf(spark, metaRoot)
    val dir = new Path(rootP, Dir)
    val keptNames = keptGs.map(g => f"group-$g%020d").toSet
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      if (!keptNames(p.getName) && !p.getName.endsWith(".tmp"))
        fs.delete(p, false)
    }
  }

  /** Flip the group pointer to `members` (member root → an
    * already-committed manifest version; roots are keyed through
    * [[normKey]] here), merged over the current mapping: tables in the
    * current group but absent from `members` carry forward
    * unchanged. CAS loop with the regression guard described above.
    * Returns the new group version and the full mapping it serves. */
  def flip(spark: SparkSession, metaRoot: String,
           members: Map[String, Long]): (Long, Map[String, Long]) = {
    val newVersions = members.map { case (r, v) => normKey(r) -> v }
    val (fs, rootP) = Manifest.fsOf(spark, metaRoot)
    val dir = new Path(rootP, Dir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val esc = ExternalCatalogUtils.escapePathName _
    var attempt = 0
    while (attempt < 10) {
      val (g, cur) = currentGroup(spark, metaRoot).getOrElse(
        (0L, Map.empty[String, Long]))
      newVersions.foreach { case (r, v) =>
        val seen = cur.getOrElse(r, 0L)
        if (seen > v) throw new java.util.ConcurrentModificationException(
          s"group $metaRoot already serves $r at version $seen > $v — " +
            s"a rival published past this run; aborting instead of " +
            s"flipping the table backwards")
      }
      val merged = cur ++ newVersions
      val target = new Path(dir, f"group-${g + 1}%020d")
      val tmp = new Path(dir,
        f"group-${g + 1}%020d." + java.util.UUID.randomUUID + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(merged.toSeq.sortBy(_._1)
        .map { case (r, v) => s"${esc(r)}\t$v" }.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (Manifest.claimAtomic(fs, tmp, target)) return (g + 1, merged)
      attempt += 1
    }
    throw new IllegalStateException(
      s"group flip lost the CAS $attempt times under $metaRoot — " +
        s"pathological contention, re-run the publisher")
  }
}
