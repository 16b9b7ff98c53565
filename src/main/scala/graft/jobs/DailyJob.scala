package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.Ingest

/** The daily batch job — reference `main()` (sessionization/main.py:1335-1384):
  * read one day's enriched partition + session history, run the pipeline,
  * write history append + six daily overwrite tables.
  *
  * Layout (main.py:1344, 1354-1359):
  *   in:      <enrichedRoot>/year=Y/month=M/day=D
  *   history: <outRoot>/history/sessions            (append, S3)
  *   daily:   <outRoot>/daily/type=X/year=Y/month=M/day=D   (overwrite, S4)
  *
  * Writes `coalesce(1)` like the reference's repartition(1) (S5) — the
  * output of one day is small; at 100 TB/day this becomes a plain
  * partitioned parallel write (drop the coalesce), which is why it's a
  * parameter.
  */
object DailyJob {

  case class Paths(enrichedRoot: String, outRoot: String, jobDate: String) {
    private val Array(y, m, d) = jobDate.split("-")
    val enrichedDay = s"$enrichedRoot/year=$y/month=$m/day=$d"
    val historyPath = s"$outRoot/history/sessions"
    def daily(tpe: String) = s"$outRoot/daily/type=$tpe/year=$y/month=$m/day=$d"
    /** CSV delivery tree — the `aggregated/ga/<date>/<table>` layout the
      * reference's SFTP uploader scans for `.csv` keys
      * (sftp-uploader/main.py:48); its regex matches any
      * `(sessions|pageviews|products|events)…csv` under the date dir,
      * which a Spark CSV part file inside `<tpe>/` satisfies. */
    def delivery(tpe: String) = s"$outRoot/aggregated/ga/year=$y/month=$m/day=$d/$tpe"
  }

  def run(spark: SparkSession, paths: Paths, idAlgo: String = "sha1",
          coalesceOutput: Boolean = true,
          catalogDb: Option[String] = Some("ga"),
          idempotentHistory: Boolean = false,
          csvDelivery: Boolean = false): GaPipeline.Outputs = {
    val hits = Ingest.readEnrichedHits(spark, paths.enrichedDay)
    val history = GaPipeline.loadHistory(spark, paths.historyPath)
    // Incremental touchpoints: every row dayOnly keeps belongs to a
    // visitor seen today, so the persisted output is identical to the
    // full-history recompute while the touchpoint stage scans only
    // today's visitors' history (see GaPipeline.run's contract).
    val out = GaPipeline.run(hits, history, paths.jobDate, idAlgo,
      incrementalTouchpoints = true)

    def dayOnly(df: DataFrame): DataFrame = {
      val filtered = df.filter(to_date(col("timestamp")) === lit(paths.jobDate))
      if (coalesceOutput) filtered.coalesce(1) else filtered
    }

    // History append first (S3), then the six daily overwrites (S4).
    // The default faithfully reproduces the reference's re-run
    // double-append defect (main.py:1320-1325, SURVEY §2.8);
    // idempotentHistory is the fixed batch path: anti-join today's
    // sessions against the persisted (visitor, visit) keys, so a re-run
    // or crash-retry appends exactly the missing rows (the session-key
    // anti-join IS the exactly-once mechanism, the same contract
    // StreamingAdmission uses). Cost = one key-projected history scan —
    // the key columns prune at the parquet reader.
    val toAppend =
      if (!idempotentHistory) dayOnly(out.sessions)
      else {
        val existingKeys = GaPipeline.loadHistory(spark, paths.historyPath)
          .select(col("fullVisitorId"), col("visitId")).distinct()
        dayOnly(out.sessions)
          .join(existingKeys, Seq("fullVisitorId", "visitId"), "left_anti")
      }
    toAppend.write.mode("append").parquet(paths.historyPath)
    Seq(
      "sessions" -> out.sessions, "pageviews" -> out.pageviews,
      "events" -> out.events, "products" -> out.products,
      "transactions" -> out.transactions, "items" -> out.items
    ).foreach { case (tpe, df) =>
      dayOnly(df).write.mode("overwrite").parquet(paths.daily(tpe))
    }
    // CSV delivery hook (S9's in-engine half): the four tables the
    // reference's SFTP uploader greps for, as headered CSV next to the
    // parquet — the uploader-side zip/transfer stays out-of-engine per
    // SURVEY §2, but a reference user now gets the delivery artifact.
    // (The reference's own path is half-dead: the job writes parquet
    // while the uploader expects CSV — this closes that gap.)
    if (csvDelivery)
      Seq("sessions" -> out.sessions, "pageviews" -> out.pageviews,
        "products" -> out.products, "events" -> out.events
      ).foreach { case (tpe, df) =>
        dayOnly(csvSafe(df)).write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .csv(paths.delivery(tpe))
      }
    // Catalog re-sync after the writes — the reference's nightly crawler
    // (S5 serve stage); None skips it for path-only consumers.
    catalogDb.foreach(db => GaCatalog.register(spark, paths.outRoot, db))
    out
  }

  /** CSV cannot carry nested cells: atomic arrays join with '|', other
    * complex types serialize as JSON (the oracle-gate queries' own
    * array-serialization discipline). */
  private[jobs] def csvSafe(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def complex(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: ArrayType | _: StructType | _: MapType => true
      case _ => false
    }
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(e, _) if !complex(e) =>
          array_join(transform(col(f.name), _.cast("string")), "|").as(f.name)
        case t if complex(t) => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** MERGE a session batch into the history by (fullVisitorId, visitId)
    * — the Delta-style upsert ([[graft.operators.Upsert]], §2.8's proper
    * fix) the anti-join `idempotentHistory` mode cannot express: that
    * mode only SUPPRESSES re-appended duplicates, so a session that
    * legitimately changed (reopened across the day boundary, revenue
    * restated) keeps its stale history row; this mode REPLACES it.
    *
    * Reader-safe for LIVE history tables, through a versioned-directory
    * + pointer-file layout:
    *
    *   <root>/_CURRENT       one-line pointer: the active version dir
    *   <root>/v=00000042/    immutable, complete parquet trees
    *
    * The merge writes a COMPLETE new version NEXT TO the old one, then
    * swaps only the POINTER (FileContext rename with OVERWRITE —
    * atomic on local/HDFS; on S3 the pointer is a single small object,
    * whose put is atomic where directory renames are not). Every
    * reader that resolves the pointer therefore sees a complete tree —
    * the old version before the swap, the new one after — and a crash
    * at ANY point leaves a valid pointer to a complete tree. The
    * superseded version is kept one generation for readers already
    * scanning it; older versions are GC'd on the next merge.
    */
  def mergeHistoryVersioned(spark: SparkSession, root: String,
                            sessions: DataFrame): Unit =
    graft.sources.Versioned.upsertPublish(spark, root, sessions,
      Seq("fullVisitorId", "visitId"))

  /** Resolve the versioned history through its pointer — the read side
    * of [[mergeHistoryVersioned]]; empty (schema-correct) history when
    * no version has ever been published. */
  def loadHistoryVersioned(spark: SparkSession, root: String): DataFrame =
    graft.sources.Versioned.current(spark, root)
      .map(v => GaPipeline.loadHistory(spark, s"$root/$v"))
      .getOrElse(GaPipeline.loadHistory(spark, s"$root/__nonexistent"))

  /** The 100 TB form of the history merge: the history lives as a
    * `date=`-partitioned manifest table and the merge is
    * PARTITION-SCOPED ([[graft.operators.Upsert.upsertPartitionScopedAtomic]])
    * — only the dates present in the batch are read and rewritten, and
    * one manifest commit publishes them; a year of untouched days is
    * neither scanned nor written (where [[mergeHistoryVersioned]]
    * rewrites the whole table per batch). The key contract holds by
    * construction: a session's partition is its start `date`, and a
    * reopened session keeps its start date, so the updated row lands in
    * the same partition as the stale one. */
  def mergeHistoryPartitioned(spark: SparkSession, historyRoot: String,
                              sessions: DataFrame): Unit =
    graft.operators.Upsert.upsertPartitionScopedAtomic(spark, historyRoot,
      Seq("date"), sessions, Seq("fullVisitorId", "visitId"))

  /** GROUP-ATOMIC daily export — the reference's six-table fan-out
    * (sessions + five hit types, `functions/ga_pipeline.py` export)
    * made TRANSACTIONAL: every table's day partitions stage as
    * uniquely named files ([[graft.sources.Manifest.stageUniqueParts]];
    * the manifest, not the directory, decides liveness), each table
    * commits its own next version — the written `year=/month=/day=`
    * leaves replaced by the staged files — through
    * [[graft.sources.Manifest.commitLeafReplacementCas]] against the
    * version it planned from, and ONE [[graft.sources.ManifestGroup]]
    * flip then publishes all six. A rival commit on another day of a
    * member rebases in; one on a written day aborts the run with
    * ConcurrentModificationException before the flip. A crash or abort
    * anywhere before the flip leaves readers on the previous
    * consistent six-table set; a re-run of the same day is idempotent
    * (the day's old files are replaced by the re-staged ones).
    * Registers the members as group-pinned catalog tables, so
    * `spark.table("db.sessions")` and `spark.table("db.pageviews")` in
    * one query ALWAYS serve the same publish. Returns (group version,
    * member → pinned manifest version). */
  def writeDailyGroupAtomic(spark: SparkSession, out: GaPipeline.Outputs,
      outRoot: String, days: Seq[String],
      catalogDb: Option[String] = Some("ga_lake"))
      : (Long, Map[String, Long]) = {
    import org.apache.hadoop.fs.Path
    import graft.sources.{GraftTable, Manifest, ManifestGroup}
    val meta = s"$outRoot/daily"
    val tables = Seq(
      "sessions" -> out.sessions, "pageviews" -> out.pageviews,
      "events" -> out.events, "products" -> out.products,
      "transactions" -> out.transactions, "items" -> out.items)
    val conf = spark.sessionState.newHadoopConf()
    val partCols = Seq("year", "month", "day")
    val leaves = days.map { d =>
      val Array(y, m, dd) = d.split("-"); s"year=$y/month=$m/day=$dd"
    }.toSet
    val staged = tables.map { case (tpe, df) =>
      val root = s"$outRoot/daily/type=$tpe"
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(conf)
      val base = Manifest.current(spark, root).map(_._1).getOrElse(0L)
      val d = to_date(col("timestamp"))
      val created = Manifest.stageUniqueParts(spark, fs, rootP,
        partCols, df.filter(d.isin(days: _*))
          .withColumn("year", date_format(d, "yyyy"))
          .withColumn("month", date_format(d, "MM"))
          .withColumn("day", date_format(d, "dd")))
      (root, base, created)
    }
    val committed = staged.map { case (root, base, created) =>
      root -> Manifest.commitLeafReplacementCas(spark, root, partCols, base,
        leaves, created)
    }.toMap
    val published = ManifestGroup.flip(spark, meta, committed)
    catalogDb.foreach { db =>
      tables.foreach { case (tpe, _) =>
        GraftTable.register(spark, db, tpe, s"$outRoot/daily/type=$tpe",
          group = Some(meta))
      }
    }
    published
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: DailyJob <enrichedRoot> <outRoot> <jobDate YYYY-MM-DD>")
    val spark = GraftSession.local()
    run(spark, Paths(args(0), args(1), args(2)))
    spark.stop()
  }
}
