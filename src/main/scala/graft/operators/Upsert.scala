package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** Keyed MERGE/upsert — the Delta-style `WHEN MATCHED THEN UPDATE ALL /
  * WHEN NOT MATCHED THEN INSERT ALL` semantics (SURVEY §2.8's proper fix
  * for the reference's append-only session history), expressed as the
  * anti-join + union a table format performs under the hood when it
  * rewrites the touched files.
  *
  * This is strictly stronger than the idempotent-history anti-join mode
  * ([[graft.jobs.DailyJob]]): that mode only SUPPRESSES re-appended
  * duplicates, so a session that legitimately changed (reopened across
  * the day boundary, revenue restated) keeps its stale row forever;
  * upsert REPLACES the matched row with the source version.
  *
  * Shape: one equi-join on the key columns (the target side is the big
  * table — at scale the join prunes to the key projection and AQE
  * broadcasts the day-sized source) plus a union; no window, no
  * collect. A partitioned table is merged in place by
  * [[upsertPartitionScopedAtomic]], which reads only the touched leaves
  * and publishes through the manifest commit log.
  */
object Upsert {

  /** Latest-wins keyed merge: rows of `target` whose key appears in
    * `source` are replaced by the source rows; all other target rows
    * carry over; source rows with new keys insert. Both frames must
    * share the key columns; output columns = source columns. */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    target
      .join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source)
  }

  /** Schema-EVOLVING keyed merge — [[upsert]] when the source carries
    * columns the target predates (the additive half of schema
    * evolution, the one a long-lived serving table actually meets: a
    * new enrichment field appears mid-history). Output schema is the
    * UNION of both schemas; carried target rows surface null for
    * columns only the source has, and vice versa — exactly Delta's
    * `mergeSchema` semantics for MERGE. Column REMOVAL is deliberately
    * not expressed (a source that dropped a column leaves the target
    * column in place, null on new rows): silent narrowing is a data
    * loss bug, not evolution. */
  def upsertEvolve(target: DataFrame, source: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(keys.forall(k => target.columns.contains(k) &&
      source.columns.contains(k)), "key columns must exist on both sides")
    target
      .join(source.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(source, allowMissingColumns = true)
  }

  /** PARTITION-SCOPED merge against a partitioned manifest table — the
    * file-pruning shape a lakehouse MERGE has, and the 100 TB answer to
    * [[upsert]]'s whole-table rewrite — at any partitioning depth (the
    * reference's own serving layout is three-level
    * `year=/month=/day=`; one level is `Seq(partCol)`). The touched set
    * is the distinct LEAF tuples the source carries; only the live
    * files under those leaves are READ (a manifest file subset — exact
    * by construction, no per-level `isin` over-selecting the cross
    * product); the merged leaves STAGE as fresh uniquely-named files
    * (old files untouched) and publish through
    * [[graft.sources.Manifest.commitLeafReplacementCas]] against the
    * version the merge read — a concurrent commit to a touched leaf
    * aborts loudly instead of being dropped. Files outside the touched
    * leaves are carried by reference, byte-untouched; only then are the
    * replaced files vacuumed. A crash at ANY point leaves manifest
    * readers on exactly the old or exactly the new snapshot. An absent
    * target bootstraps from the source; an empty source writes nothing.
    *
    * Contract the caller owns (true for session history keyed by start
    * date): a key's rows live under ONE leaf, and a source row carries
    * the SAME partition values as the target row it updates —
    * otherwise the stale twin in the unscanned leaf survives. */
  def upsertPartitionScopedAtomic(spark: org.apache.spark.sql.SparkSession,
                                  targetPath: String, partCols: Seq[String],
                                  source: DataFrame, keys: Seq[String],
                                  keepVersions: Int = 1): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(partCols.nonEmpty, "use upsert()/mergeDv for unpartitioned")
    partCols.foreach(pc => require(!keys.contains(pc),
      s"$pc partitions the tree; key on the id columns"))
    val (fs, root) = Manifest.fsOf(spark, targetPath)
    // One evaluation of the source, in a plan of its own so the
    // caller's cache of `source` is never unpersisted here: it feeds the
    // bootstrap check, the touched leaves and the merge, and a
    // non-deterministic source could otherwise stage rows outside the
    // leaves it named.
    val src = spark.createDataFrame(source.rdd, source.schema).persist()
    try {
      if (!fs.exists(root)) {
        // bootstrap: a brand-new table, the whole source = new leaves
        if (!src.isEmpty) {
          src.write.partitionBy(partCols: _*).parquet(targetPath)
          Manifest.bootstrap(spark, targetPath)
        }
        return
      }
      Manifest.bootstrap(spark, targetPath) // adopt a plain tree idempotently
      val touched = PartitionScope.touchedLeaves(src, partCols)
      if (touched.isEmpty) return
      val (base, live) = Manifest.current(spark, targetPath).get
      val inLeaves = live.filter(f => touched(Manifest.leafDirOf(f, partCols)))
      val merged =
        if (inLeaves.isEmpty) src // only new leaves: pure insert
        else {
          val affected = Manifest.readSubset(spark, targetPath, inLeaves, base)
          upsert(affected.select(affected.columns.map(c =>
            col(c).cast(source.schema(c).dataType).as(c)): _*), src, keys)
        }
      val created = Manifest.stageUniqueParts(spark, fs, root, partCols, merged)
      Manifest.commitLeafReplacementCas(spark, targetPath, partCols, base,
        touched, created)
      Manifest.vacuum(spark, targetPath, keepVersions)
    } finally src.unpersist()
  }
}

/** Shared leaf-tuple plumbing of the partition-scoped atomic
  * operators. */
private[operators] object PartitionScope {

  /** Distinct leaf tuples of `df` (string-cast, null-refused) as the
    * escaped, root-relative leaf-dir set
    * ([[graft.sources.Manifest.leafDirOf]] form). */
  def touchedLeaves(df: DataFrame, partCols: Seq[String]): Set[String] = {
    val tuples = df
      .select(partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect().map(_.toSeq.map(_.asInstanceOf[String]))
    tuples.foreach(t => require(!t.contains(null),
      s"rows with NULL in ${partCols.mkString(",")} cannot be " +
        "partition-scoped (they would land in the Hive default " +
        "partition outside the scan scope)"))
    val esc = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName _
    tuples.map(t => partCols.zip(t)
      .map { case (c, v) => s"$c=${esc(v)}" }.mkString("/")).toSet
  }
}
