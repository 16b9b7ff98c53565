package graft.jobs

import org.apache.spark.sql.{GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** Small-file compaction for a manifest table — the operational job
  * every long-lived table needs (streaming sinks and incremental
  * appends accrete kilobyte files; at 100 TB the resulting open/seek
  * overhead dominates scan time long before bytes do). The SQL
  * `OPTIMIZE` runs [[compactAtomicFlat]] on an unpartitioned table and
  * [[compactAtomicLeaves]] on a partitioned one.
  *
  * Both know each leaf's files and sizes from the commit log and
  * bin-pack them, one task and one file per bin, with no salt and no
  * shuffle. The packed files stage next to the files they replace and
  * one commit publishes them, so a crash anywhere leaves readers on
  * exactly the old or exactly the new snapshot. Content is preserved
  * verbatim; only layout changes.
  *
  * Value identity: the rewrite scans declare the partition columns
  * STRING ([[Manifest.readSubsets]]), so values round-trip as the
  * exact directory strings (`hour=00` stays `00`, never re-inferred to
  * int 0 and rewritten as a NEW `hour=0` directory family alongside the
  * old one — silent row duplication).
  */
object Compaction {

  /** ATOMIC compaction of an UNPARTITIONED manifest table — the
    * one-leaf case of [[compactAtomicLeaves]]: the DV-filtered snapshot
    * packs into at most `min(ceil(bytes / targetBytes), files)` bins,
    * one file each, in one full-replacement commit. Because the rewrite
    * reads through the deletion vectors, pending deletes MATERIALIZE
    * and their refs drop with the commit (every old file is replaced,
    * so no carried file still needs one). A table already at or under
    * its budget with no pending DVs is left untouched (no empty
    * commit). Returns the current version either way. */
  def compactAtomicFlat(spark: SparkSession, path: String,
                        targetBytes: Long = 128L * 1024 * 1024,
                        keepVersions: Int = 1,
                        afterStage: () => Unit = () => ()): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    Manifest.bootstrap(spark, path)
    val (v0, live) = Manifest.current(spark, path).get
    if (live.isEmpty) return v0
    // log-served sizes: zero per-file status calls (round-13 #2)
    val sizes = Manifest.fileSizes(spark, path, live)
    if (live.size <= budgetOf(live, sizes, targetBytes) &&
        Manifest.dvsAt(spark, path, v0).isEmpty) return v0 // already compact
    rewriteBins(spark, path, v0, Nil, Seq(live), sizes, targetBytes,
      keepVersions, afterStage)
  }

  /** ATOMIC compaction of a partitioned manifest table under the
    * [[graft.sources.Manifest]] commit protocol (the
    * compacted files stage as fresh appends next to the small files
    * they replace, one rename publishes; crash anywhere = old or new
    * snapshot) — at any partitioning depth (one level is
    * `Seq(partCol)`), INCREMENTAL by construction (round-13 verdict
    * #1 — the old form re-staged every
    * row of every leaf, O(table) IO + 2× churn for an O(today's-small-
    * files) problem on the statement every streaming-sink table needs
    * weekly): per-LEAF byte budgets (grouped by the full
    * `c1=v1/…/cn=vn` directory, sizes FROM THE COMMIT LOG — zero
    * per-file status calls), and a leaf is REWRITTEN only when it is
    * fragmented (more live files than its byte budget) or carries
    * merge-on-read debt (a live deletion vector references one of its
    * files). Every other leaf's files carry forward BYTE-IDENTICALLY
    * in the same commit — the manifest makes the carry free. On the
    * reference's daily-append y/m/d tree, a weekly run touches
    * O(today's fragmented leaves), never the thousands of closed,
    * already-compact days.
    *
    * Layout: each rewritten leaf's live files pack into at most
    * `min(ceil(bytes / targetBytes), files)` BINS, the largest file
    * going into the lightest bin, and every bin is written as ONE file
    * by ONE task — the bins' scans concatenate into a single staging
    * write, one Spark job with no shuffle (rows never leave their leaf,
    * so nothing needs to move between tasks). Bins never split a file: an
    * oversized single file with DV debt rewrites into one file. Every
    * leaf still ends with at most its budget of files.
    *
    * `partitionPredicate` (`OPTIMIZE t WHERE …`) scopes the run to the
    * leaves whose PARTITION VALUES satisfy the predicate — evaluated
    * driver-side over the O(leaves) value table (typed through the
    * schema-in-log sidecar when one exists), loud when the predicate
    * references anything but partition columns. Out-of-scope leaves
    * are untouched even when fragmented.
    *
    * Deletion vectors: rewritten leaves read through their DVs, so
    * their deletes MATERIALIZE (a leaf whose rows are all deleted
    * publishes no file); refs survive as inert lines (the
    * rewritten files left the manifest) unless no live file carries a
    * DV ref anymore, in which case the refs drop with the commit.
    * Content-identical by construction; `keepVersions <= 0` skips the
    * vacuum (the SQL OPTIMIZE contract: old versions keep
    * time-traveling). Returns the committed (or current, when nothing
    * qualified) version. */
  def compactAtomicLeaves(spark: SparkSession, path: String,
                          partCols: Seq[String],
                          targetBytes: Long = 128L * 1024 * 1024,
                          keepVersions: Int = 1,
                          partitionPredicate: Option[String] = None,
                          afterStage: () => Unit = () => ()): Long = {
    require(partCols.nonEmpty, "use compactAtomicFlat for unpartitioned")
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    Manifest.bootstrap(spark, path)
    val (v0, live) = Manifest.current(spark, path).get
    if (live.isEmpty) return v0
    // per-leaf byte budget from the LIVE list (crash debris excluded),
    // sizes log-served (round-13 verdict #2)
    val sizes = Manifest.fileSizes(spark, path, live)
    val byLeaf = live.groupBy(Manifest.leafDirOf(_, partCols))
    val inScope = partitionPredicate match {
      case None => byLeaf.keySet
      case Some(sql) =>
        scopeLeaves(spark, path, v0, byLeaf.keys.toSeq, partCols, sql)
    }
    // live files a live DV references: their leaves carry merge-on-read
    // debt and qualify regardless of fragmentation
    val dvFiles = graft.sources.DeletionVectors.filesWithDeletes(spark,
      path, Manifest.dvsAt(spark, path, v0)).filter(live.toSet)
    val selected = byLeaf.filter { case (leaf, fls) => inScope(leaf) &&
      (fls.size > budgetOf(fls, sizes, targetBytes) || fls.exists(dvFiles))
    }
    if (selected.isEmpty) return v0 // nothing fragmented in scope
    // Old DV refs survive the publish only while a carried file still
    // needs one (an out-of-scope DV'd leaf); refs to rewritten files
    // are inert either way.
    rewriteBins(spark, path, v0, partCols, selected.toSeq.sortBy(_._1).map(_._2),
      sizes, targetBytes, keepVersions, afterStage)
  }

  /** A leaf's file budget: `ceil(bytes / targetBytes)`, at least 1. */
  private def budgetOf(files: Seq[String], sizes: Map[String, Long],
                       targetBytes: Long): Long = {
    val bytes = files.map(f => sizes.getOrElse(f, 0L)).sum
    math.max(1L, (bytes + targetBytes - 1) / targetBytes)
  }

  /** `files` packed into `min(n, files)` bins: largest file first, each
    * into the lightest bin so far (ties: the lower bin). A file is
    * never split. */
  private[graft] def pack(files: Seq[String], sizes: Map[String, Long],
                          n: Long): Seq[Seq[String]] = {
    val k = math.min(n, files.size.toLong).toInt
    val bins = Array.fill(k)(Vector.empty[String])
    val lightest = scala.collection.mutable.PriorityQueue.from(
      (0 until k).map(i => (0L, i)))(Ordering[(Long, Int)].reverse)
    files.sortBy(f => (-sizes.getOrElse(f, 0L), f)).foreach { f =>
      val (load, i) = lightest.dequeue()
      bins(i) :+= f
      lightest.enqueue((load + sizes.getOrElse(f, 0L), i))
    }
    bins.toSeq
  }

  /** Rewrites `leaves` (each one leaf's live files at version `v0`)
    * into one file per [[pack]] bin and publishes the replacement. Each
    * bin is a [[Manifest.readSubsets]] scan (declared schema, column
    * mapping, DV filter, raw partition strings) coalesced to one
    * partition; the bins concatenate into one staging write — one Spark
    * job, one task and one file per bin, no exchange. (A `union` of the
    * coalesced bins would run them all in ONE task: Spark merges
    * single-partition union children.) */
  private def rewriteBins(spark: SparkSession, path: String, v0: Long,
                          partCols: Seq[String], leaves: Seq[Seq[String]],
                          sizes: Map[String, Long], targetBytes: Long,
                          keepVersions: Int, afterStage: () => Unit): Long = {
    val bins = leaves.flatMap(fls =>
      pack(fls, sizes, budgetOf(fls, sizes, targetBytes)))
    val packed = GraftDatasetFactory.concat(spark,
      Manifest.readSubsets(spark, path, bins, v0).map(_.coalesce(1)))
    val (fs, rootP) = Manifest.fsOf(spark, path)
    val created = Manifest.stageUniqueParts(spark, fs, rootP, partCols, packed)
    // seam between stage and publish (the commitPartitionReplacementCas
    // discipline): the specs inject the racing commit here to pin both
    // loser outcomes deterministically
    afterStage()
    // CAS publish that COEXISTS with live writers (round-13 verdict #3):
    // interleaved appends rebase into the rewrite; a removal of (or new
    // DV on) a file being rewritten aborts loudly
    val v = Manifest.commitRewriteCas(spark, path, v0, leaves.flatten.toSet, created)
    if (keepVersions > 0) Manifest.vacuum(spark, path, keepVersions)
    v
  }

  /** Leaves whose partition VALUES satisfy `whereSql` — the
    * `OPTIMIZE … WHERE` scope, evaluated over the O(leaves) local
    * value table (typed via the schema-in-log sidecar when present so
    * numeric predicates compare numerically, not lexically). Loud on
    * anything but a partition-column predicate. */
  private def scopeLeaves(spark: SparkSession, path: String, v: Long,
                          leaves: Seq[String], partCols: Seq[String],
                          whereSql: String): Set[String] = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val rows = leaves.map { l =>
      org.apache.spark.sql.Row.fromSeq(
        l +: Manifest.partitionValuesOf(l + "/f", partCols))
    }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(StructField("__leaf", StringType) +:
        partCols.map(StructField(_, StringType))))
    val schema = Manifest.schemaAt(spark, path, v)
    val typed = partCols.foldLeft(raw) { (df, c) =>
      schema.flatMap(_.fields.find(_.name == c)) match {
        case Some(f) => df.withColumn(c, col(c).cast(f.dataType))
        case None => df
      }
    }
    val kept =
      try typed.filter(expr(whereSql)).select("__leaf").collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"OPTIMIZE … WHERE must be a predicate over the partition " +
            s"columns ${partCols.mkString(", ")} only: ${e.getMessage}")
      }
    kept.map(_.getString(0)).toSet
  }

  /** OPTIMIZE … ZORDER BY (c1, …, cn) — the clustered rewrite every
    * table format pairs with its data-skipping stats (Delta's OPTIMIZE
    * ZORDER, public design): ONE atomic replacement commit whose files
    * each cover a narrow z-range over ALL `zCols`, so the commit-log
    * colstats sidecar — and through it the unified table's implicit
    * range pruning AND `SkippingIndex.fromLog` — prunes on ANY of them.
    * One column = a plain ORDER-BY layout (perfect pruning on that
    * column, none on others); n columns = the n-ary Morton curve
    * (~n-th-root pruning on each, the right trade for a table queried
    * by more than one dimension).
    *
    * Composes with merge-on-read: the rewrite reads the DV-filtered
    * snapshot, so an OPTIMIZE also MATERIALIZES pending deletes and
    * clears the DV refs no carried file still needs, exactly like
    * [[graft.sources.Manifest.purgeDeletes]] but producing a clustered
    * layout. Crash anywhere = old or new snapshot; replaced files stay
    * for time travel until vacuum. Returns the committed version.
    *
    * `zBits` bounds the interleave ([[graft.operators.ZOrder.zValue]]);
    * the columns must be non-negative integral expressions on that
    * grid (the caller rescales — epoch days, dictionary codes,
    * bucketed longs). Partitioned layouts (`partCols`, any depth) keep
    * their directory partitioning; the z-clustering applies within the
    * staged write, and `partitionPredicate` (`OPTIMIZE … WHERE`)
    * scopes it to the matching leaves.
    *
    * `bloomColumn` + `bloomIndexPath` (round-11 verdict #8): a table
    * serving point lookups through a [[graft.sources.BloomFileIndex]]
    * must have that index REFRESHED in the same operation — a full-
    * replacement commit retires every indexed file, and while the
    * fail-open contract keeps a stale index CORRECT (unindexed live
    * files are always candidates), it prunes NOTHING: the point lookup
    * that motivated the index would open every file until someone
    * remembered to refresh. The refresh here scans exactly the files
    * the rewrite created (the kept-set is empty by construction) and
    * runs AFTER the commit, so a reader between commit and refresh
    * sees the stale-but-fail-open index, never a wrong answer. */
  def optimizeZOrder(spark: SparkSession, path: String,
                     zCols: Seq[String],
                     partCols: Seq[String] = Nil,
                     zBits: Int = 10,
                     statsCols: Seq[String] = Nil,
                     numFiles: Int = 0,
                     bloomColumn: Option[String] = None,
                     bloomIndexPath: Option[String] = None,
                     partitionPredicate: Option[String] = None): Long = {
    require(zCols.nonEmpty, "optimizeZOrder needs at least one column")
    require(bloomColumn.isDefined == bloomIndexPath.isDefined,
      "bloomColumn and bloomIndexPath come together")
    require(partitionPredicate.isEmpty || partCols.nonEmpty,
      "a partition-scoped ZORDER needs a partitioned table")
    import graft.operators.ZOrder
    Manifest.bootstrap(spark, path)
    val (v0, live) = Manifest.current(spark, path).get
    if (live.isEmpty) return v0
    val (fs, rootP) = Manifest.fsOf(spark, path)
    // `OPTIMIZE … WHERE … ZORDER BY` (the Delta composition): cluster
    // ONLY the leaves whose partition values satisfy the predicate —
    // every in-scope leaf is rewritten (clustering is a layout choice,
    // not a fragmentation question), everything else carries forward
    // byte-identically. The incremental lever for a y/m/d tree whose
    // closed days are already clustered: the weekly statement
    // re-clusters this week, never the year.
    val selFiles = partitionPredicate match {
      case None => live
      case Some(sql) =>
        val byLeaf = live.groupBy(Manifest.leafDirOf(_, partCols))
        val inScope = scopeLeaves(spark, path, v0, byLeaf.keys.toSeq,
          partCols, sql)
        byLeaf.filter(kv => inScope(kv._1)).values.flatten.toSeq.sorted
    }
    if (selFiles.isEmpty) return v0 // nothing in scope
    // DV-filtered: in-scope deletes materialize here
    val snapshot = Manifest.readSubset(spark, path, selFiles, v0)
    val clustered =
      ZOrder.layoutByN(snapshot, zCols.map(col), zBits, numFiles)
    val created = Manifest.stageUniqueParts(spark, fs, rootP, partCols, clustered)
    // replacement of exactly the selected files; pending DVs on them
    // are materialized by the rewrite, out-of-scope DVs stay live.
    // CAS publish: interleaved appends rebase into the clustered
    // manifest (unclustered but live — correctness first); removals
    // of / new DVs on the files being rewritten abort loudly.
    val v = Manifest.commitRewriteCas(spark, path, v0, selFiles.toSet, created)
    val cols = if (statsCols.nonEmpty) statsCols else zCols
    Manifest.writeStats(spark, path, v)
    Manifest.writeColStats(spark, path, v, cols)
    // derived-artifact refresh is part of the OPTIMIZE, not a separate
    // chore someone forgets: the clustered files replace every indexed
    // one, so without this the bloom index prunes nothing until the
    // next manual refresh
    (bloomColumn, bloomIndexPath) match {
      case (Some(c), Some(idx)) =>
        graft.sources.BloomFileIndex.refresh(spark, path, c, idx): Unit
      case _ => ()
    }
    v
  }
}
