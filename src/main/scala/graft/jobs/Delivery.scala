package graft.jobs

import java.nio.file.{Files, Paths => JPaths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetSchema, Versioned}

/** The delivery PACKAGING stage — everything the reference's SFTP
  * uploader does short of the socket itself
  * (functions/sftp-uploader/main.py:44-124): filter the date's
  * delivery CSVs (the same `(sessions|pageviews|products|events)…csv`
  * selection over the `aggregated/ga/<date>` tree [[DailyJob]] writes),
  * stage them under the uploader's `<table>_<YYYYMMDD>.csv` names,
  * zip them into `outgoing/<YYYYMMDD>.zip`, and record the upload
  * state — the reference's DynamoDB item (year, uploaded_at,
  * compressed_files, uploaded_file_name, status) — as a keyed MERGE
  * into a versioned ledger table, so a re-run REPLACES its state row
  * (the reference's blind put_item, made explicitly idempotent). The
  * network put is the one leg that stays out-of-engine (SURVEY §2);
  * a transfer job takes the zip path + ledger row this stage hands it.
  *
  * Determinism: zip entries are written in sorted order with a FIXED
  * timestamp, so re-packaging the same tree is byte-identical — the
  * artifact can be checksummed/diffed across retries (spec-pinned).
  *
  * Scale note: packaging runs on the DRIVER over one day's four CSVs
  * (the reference ships one small zip per day) — this is a delivery
  * artifact stage, not a data-plane operator.
  */
object Delivery {

  /** Fixed entry mtime (2000-01-01T00:00): zip's DOS-time epoch starts
    * in 1980, so "zero" must be a post-1980 constant. A LOCAL date-time
    * because `ZipEntry.setTime(millis)` converts through the JVM
    * default TimeZone — the same CSVs zipped under UTC vs a western
    * zone would differ in the entry timestamp bytes, breaking the
    * cross-machine checksum contract; `setTimeLocal` writes these DOS
    * fields verbatim, timezone-independent. */
  private val EntryTime = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)

  val LedgerTables: Seq[String] =
    Seq("sessions", "pageviews", "products", "events")

  /** Package `paths.jobDate`'s delivery CSVs into
    * `<outRoot>/outgoing/<YYYYMMDD>.zip` and merge the upload-state
    * row (keyed by uploaded_file_name). Returns (zipPath, the
    * compressed source keys). `uploadedAt` is caller-supplied so the
    * ledger row is reproducible (no hidden clock). */
  def packageDelivery(spark: SparkSession, paths: DailyJob.Paths,
                      uploadedAt: String): (String, Seq[String]) = {
    val fileDate = paths.jobDate.replace("-", "")
    // one (table, csv part file) list, sorted for deterministic zips;
    // the reference names entries `<dir5>_<date>.csv` which COLLIDES
    // for multi-part tables — parts beyond the first get `_<i>`
    val found = LedgerTables.flatMap { t =>
      val dir = new java.io.File(paths.delivery(t))
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".csv")).sortBy(_.getName)
      parts.zipWithIndex.map { case (f, i) =>
        val entry = if (i == 0) s"${t}_$fileDate.csv"
          else s"${t}_${fileDate}_$i.csv"
        (entry, f)
      }
    }.sortBy(_._1)
    require(found.nonEmpty,
      s"no delivery CSVs under ${paths.outRoot}/aggregated/ga for ${paths.jobDate} " +
        "— run DailyJob with csvDelivery = true first")
    val outDir = JPaths.get(s"${paths.outRoot}/outgoing")
    Files.createDirectories(outDir)
    val zipPath = outDir.resolve(s"$fileDate.zip").toString
    val zos = new ZipOutputStream(Files.newOutputStream(JPaths.get(zipPath)))
    try found.foreach { case (name, f) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(EntryTime)
      zos.putNextEntry(e)
      Files.copy(f.toPath, zos)
      zos.closeEntry()
    } finally zos.close()
    // the reference records the S3 keys it compressed; here: the
    // delivery-tree-relative paths of the same files
    val keys = found.map { case (_, f) =>
      f.getAbsolutePath.stripPrefix(
        new java.io.File(paths.outRoot).getAbsolutePath + "/")
    }
    mergeState(spark, s"${paths.outRoot}/upload_state",
      year = paths.jobDate.take(4), uploadedAt = uploadedAt,
      compressedFiles = keys, uploadedFileName = s"$fileDate.zip")
    (zipPath, keys)
  }

  /** The ledger's current content (empty before the first delivery). */
  def uploadState(spark: SparkSession, outRoot: String): DataFrame = {
    val root = s"$outRoot/upload_state"
    Versioned.current(spark, root) match {
      case Some(v) => ParquetSchema.read(spark, s"$root/$v")
      case None =>
        import spark.implicits._
        Seq.empty[(String, String, Seq[String], String, String)]
          .toDF("year", "uploaded_at", "compressed_files",
            "uploaded_file_name", "status")
    }
  }

  private def mergeState(spark: SparkSession, root: String, year: String,
                         uploadedAt: String, compressedFiles: Seq[String],
                         uploadedFileName: String): Unit = {
    import spark.implicits._
    val row = Seq((year, uploadedAt, compressedFiles, uploadedFileName,
      "success"))
      .toDF("year", "uploaded_at", "compressed_files",
        "uploaded_file_name", "status")
    Versioned.upsertPublish(spark, root, row, Seq("uploaded_file_name"),
      coalesce1 = true)
  }
}
