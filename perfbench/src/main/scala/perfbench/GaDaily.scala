package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.enrich.{GeoIp, UserAgent}
import graft.functions.GaFunctions
import graft.ingest.Ingest
import graft.jobs.{DailyJob, GaPipeline}
import graft.operators.Ecommerce
import graft.sources.Manifest

/** Raw GA days for the two GA workloads: seeded Firehose files made in
  * set-up, one day per pass, and the layers every day goes through
  * first: `Ingest.fromFirehose` (malformed envelopes dropped), then
  * `UserAgent.withDeviceColumns` and `GeoIp.withGeoColumns`.
  *
  * Traced, those layers run one at a time, each layer's output
  * materialized (persisted and counted) before the next is called, so
  * every span holds exactly its layer's work. The traced-only counts
  * (rows in, bots, geo matches) run outside the layer spans.
  */
abstract class GaDays(spark: SparkSession, c: Conf) extends Workload {
  def hitsPerDay: Int
  def days: Int
  protected val in: java.nio.file.Path = c.work.resolve("ga_in")
  protected val outRoot: String = c.work.resolve("ga_out").toString
  protected var expected: Seq[GaGen.Day] = Nil
  protected var next = 0
  protected val traceRows = mutable.ArrayBuffer.empty[Map[String, Double]]

  private val rawSchema = StructType(Seq(
    StructField("recordId", StringType), StructField("data", StringType)))

  private def wipe(p: String): Unit = {
    val path = new Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
  }

  def setup(): Unit = {
    wipe(in.toString); wipe(outRoot)
    expected = GaGen.write(in, c.seed, days, hitsPerDay)
    next = 0
  }

  override def hasNext: Boolean = next < expected.size
  override def setupReps: Int = 5

  protected def raw(day: GaGen.Day): DataFrame =
    spark.read.schema(rawSchema).json(in.resolve("raw").resolve(day.date).toString)

  private def ranges: DataFrame = GeoIp.loadRanges(spark, in.resolve("geo.csv").toString)

  protected def ingest(df: DataFrame): DataFrame =
    Ingest.fromFirehose(df).filter(col("message_id").isNotNull)

  protected def enrich(df: DataFrame): DataFrame = GeoIp.withGeoColumns(
    UserAgent.withDeviceColumns(df, col("user_agent")), ranges, col("ip"), col("device_is_bot"))

  protected def mat(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** `ingest` and `enrich`, layer by layer; records the day's traced
    * counts with `extra` added. */
  protected def tracedEnrich(day: GaGen.Day, extra: Map[String, Double] = Map.empty): DataFrame = {
    val rawDf = raw(day)
    val rowsIn = rawDf.count().toDouble
    val (ingested, rowsOut) = Trace.span("ingest")(mat(ingest(rawDf)))
    val (withDevice, _) = Trace.span("enrich.ua")(
      mat(UserAgent.withDeviceColumns(ingested, col("user_agent"))))
    val (enriched, n) = Trace.span("enrich.geo")(
      mat(GeoIp.withGeoColumns(withDevice, ranges, col("ip"), col("device_is_bot"))))
    val quality = enriched.agg(
      sum(when(col("device_is_bot"), 1).otherwise(0)).as("bots"),
      sum(when(!col("device_is_bot"), 1).otherwise(0)).as("humans"),
      sum(when(!col("device_is_bot") && col("geo_country") =!= "(not set)", 1)
        .otherwise(0)).as("geo")).head()
    traceRows += Map("ingest.rows_in" -> rowsIn, "ingest.rows_out" -> rowsOut.toDouble,
      "ingest.rows_dropped" -> (rowsIn - rowsOut),
      "enrich.bot_ratio" -> quality.getLong(0).toDouble / n,
      "enrich.geo_match_ratio" -> quality.getLong(2).toDouble / math.max(1L, quality.getLong(1))) ++ extra
    enriched
  }

  def pass(traced: Boolean): Seq[Op] = {
    val day = expected(next); next += 1
    val t0 = System.nanoTime()
    if (traced) runTracedDay(day) else runDay(day)
    val secs = Stats.secs(t0)
    spark.catalog.clearCache()
    Seq(Op("day", secs))
  }

  /** One day, lazy end to end as production composes it. */
  protected def runDay(day: GaGen.Day): Unit
  /** The same day, layer by layer. */
  protected def runTracedDay(day: GaGen.Day): Unit

  protected def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  protected def self(warm: Seq[Seq[Span]], n: String): Double =
    mean(warm.map(_.filter(_.name == n).map(Trace.selfSeconds).sum))
  protected def delta(warm: Seq[Seq[Span]], n: String, k: String): Double =
    mean(warm.map(_.filter(_.name == n).map(_.deltas.getOrElse(k, 0.0)).sum))

  /** The ingest, enrich and sessionize layers, plus the traced counts of
    * the warm passes (the first row is the cold pass's). */
  protected def hitLayers(warm: Seq[Seq[Span]]): Map[String, Double] = {
    val rows = traceRows.drop(1).toSeq
    Map(
      "ingest.self_s" -> self(warm, "ingest"),
      "enrich.ua.self_s" -> self(warm, "enrich.ua"),
      "enrich.geo.self_s" -> self(warm, "enrich.geo"),
      "jobs.sessionize.self_s" -> self(warm, "jobs.sessionize"),
      "jobs.sessionize.shuffle_bytes" -> delta(warm, "jobs.sessionize", "shuffle_bytes"),
      "jobs.sessionize.spill_bytes" -> delta(warm, "jobs.sessionize", "spill_bytes")) ++
      rows.flatMap(_.keys).distinct.map(k => k -> mean(rows.map(_(k)))).toMap
  }

  protected def hitsPerS(ops: Seq[Op]): Double = {
    val warmDays = ops.filter(_.kind == "day").drop(1).map(_.seconds)
    if (warmDays.isEmpty) 0.0 else hitsPerDay / Stats.median(warmDays)
  }
}

/** `ga_sessionize`: the hit stage of the paper's job, one day per pass:
  * raw Firehose records → ingest → enrichment → `GaPipeline.sessionized`
  * → the sessionized hits written as parquet. It stops where
  * `GaPipeline.run` goes on to the export projection, so it measures the
  * ingest, enrich and sessionize layers on the same traffic as
  * `ga_daily` (geo misses included) while `ga_daily` stays broken.
  *
  * Checks: each day's written hits, read back, hold exactly the
  * generator's non-timing hits, one session start per generated session
  * and one distinct `visit_id` per session.
  */
final class GaSessionize(spark: SparkSession, c: Conf) extends GaDays(spark, c) {
  // a warm day takes about 6 s on 4 cores, most of it fixed per-day
  // cost; a run's warm passes need three days, and set-up writes them all
  val hitsPerDay: Int = if (c.smoke) 400 else 4000
  val days: Int = if (c.smoke) 3 else 4

  private def dayDir(day: GaGen.Day) = s"$outRoot/hits/date=${day.date}"

  private def write(df: DataFrame, day: GaGen.Day): Unit =
    df.write.mode("overwrite").parquet(dayDir(day))

  protected def runDay(day: GaGen.Day): Unit =
    write(GaPipeline.sessionized(enrich(ingest(raw(day)))), day)

  protected def runTracedDay(day: GaGen.Day): Unit = {
    val enriched = tracedEnrich(day)
    val (sess, _) = Trace.span("jobs.sessionize")(mat(GaPipeline.sessionized(enriched)))
    Trace.span("write")(write(sess, day))
  }

  def finalChecks(): Seq[String] = expected.take(next).flatMap { d =>
    val r = spark.read.parquet(dayDir(d)).agg(count(lit(1)),
      coalesce(sum(when(col("is_new_session") === 1, 1L)), lit(0L)),
      countDistinct(col("visit_id"))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = (d.hits - d.timings, d.sessions, d.sessions)
    if (got != want) Some(s"ga_sessionize ${d.date} (hits, session starts, visit ids): $got, expected $want")
    else None
  }

  def layers(warm: Seq[Seq[Span]]): Map[String, Double] = hitLayers(warm)

  override def details(ops: Seq[Op]): Map[String, Any] =
    Map("hits_per_day" -> hitsPerDay, "days_run" -> next, "hits_per_s" -> hitsPerS(ops))
}

/** `ga_daily`: the paper's job, one day per pass, from raw Firehose
  * records to the committed six-table export plus the history append.
  *
  * Untraced, a day is the production composition, lazy end to end:
  * ingest → enrichment → `GaPipeline.run(incrementalTouchpoints = true)`
  * → history append → `DailyJob.writeDailyGroupAtomic`.
  *
  * Checks: each day's six tables, read back through the catalog, hold
  * exactly the generator's counts, and the history holds every session
  * appended so far. Traced days commit too, so the same checks cover the
  * layer-by-layer copy of `GaPipeline.run` in [[runTracedDay]].
  */
final class GaDaily(spark: SparkSession, c: Conf) extends GaDays(spark, c) {
  val hitsPerDay: Int = if (c.smoke) 400 else 20000
  val days: Int = if (c.smoke) 3 else 12
  private val historyPath = s"$outRoot/history/sessions"

  private def commit(out: GaPipeline.Outputs, date: String): Unit = {
    out.sessions.filter(to_date(col("timestamp")) === lit(date)).coalesce(1)
      .write.mode("append").parquet(historyPath)
    DailyJob.writeDailyGroupAtomic(spark, out, outRoot, Seq(date))
  }

  protected def runDay(day: GaGen.Day): Unit =
    commit(GaPipeline.run(enrich(ingest(raw(day))), GaPipeline.loadHistory(spark, historyPath),
      day.date, incrementalTouchpoints = true), day.date)

  /** The stages below copy `GaPipeline.run`'s body, in its order, each
    * behind a materialization: `sessionized`; then `withDerivedColumns`
    * → `Ecommerce.explodeProducts` → `product_revenue` → `exportTable`
    * (its export stage); then `newSessions(exportSessions(export))` and
    * the `incrementalTouchpoints` semi-join, anti-join and union; then
    * the six `Outputs`. A change to `GaPipeline.run` must be made here
    * too; the per-day table counts catch a copy that drifts in what it
    * writes. */
  protected def runTracedDay(day: GaGen.Day): Unit = {
    val history = GaPipeline.loadHistory(spark, historyPath)
    val historyRows = history.count().toDouble
    val enriched = tracedEnrich(day, Map("jobs.touchpoints.history_rows" -> historyRows))
    val (sess, _) = Trace.span("jobs.sessionize")(mat(GaPipeline.sessionized(enriched)))
    val (export, _) = Trace.span("jobs.export")(mat(GaPipeline.exportTable(
      Ecommerce.explodeProducts(GaPipeline.withDerivedColumns(sess))
        .withColumn("product_revenue", GaFunctions.productRevenue(
          col("prqt"), col("prpr"), col("action_type"))))))
    val tpCols = Seq("touchpoints", "touchpoints_wo_direct", "first_touchpoint", "last_touchpoint")
    val (sessions, _) = Trace.span("jobs.touchpoints")(mat {
      val today = GaPipeline.newSessions(GaPipeline.exportSessions(export), day.date)
      val ids = today.select(col("fullVisitorId")).distinct()
      history.join(ids, Seq("fullVisitorId"), "left_anti").unionByName(
        GaPipeline.withTouchpoints(history.join(ids, Seq("fullVisitorId"), "left_semi")
          .unionByName(today).drop(tpCols: _*)))
    })
    val out = GaPipeline.Outputs(sessions, GaPipeline.hitsPageviews(export),
      GaPipeline.hitsEvents(export), GaPipeline.hitsProducts(export),
      GaPipeline.hitsTransactions(export), GaPipeline.hitsItems(export))
    Trace.span("jobs.write")(commit(out, day.date))
  }

  def finalChecks(): Seq[String] = {
    val done = expected.take(next)
    val errs = mutable.ArrayBuffer.empty[String]
    Seq("sessions", "pageviews", "events", "products", "transactions", "items").foreach { t =>
      val got = spark.table(s"ga_lake.$t").groupBy(to_date(col("timestamp")).cast("string"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      done.foreach { d =>
        val want = d.tables(t)
        if (got.getOrElse(d.date, 0L) != want)
          errs += s"ga_daily ${d.date} $t: ${got.getOrElse(d.date, 0L)} rows, expected $want"
      }
    }
    val hist = spark.read.parquet(historyPath).count()
    if (hist != done.map(_.sessions).sum)
      errs += s"ga_daily history: $hist rows, expected ${done.map(_.sessions).sum}"
    errs.toSeq
  }

  /** Bytes of every file under the six table roots over the bytes of the
    * files the current group publishes. */
  private def writeAmp(): Double = {
    val conf = spark.sessionState.newHadoopConf()
    val tables = Seq("sessions", "pageviews", "events", "products", "transactions", "items")
    val (all, live) = tables.map { t =>
      val root = s"$outRoot/daily/type=$t"
      val rootP = new Path(root)
      val fs = rootP.getFileSystem(conf)
      val it = fs.listFiles(rootP, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.endsWith(".crc")) total += f.getLen
      }
      val files = Manifest.current(spark, root).map(_._2).getOrElse(Nil)
      (total, files.map(f => fs.getFileStatus(new Path(rootP, f)).getLen).sum)
    }.unzip
    all.sum.toDouble / math.max(1L, live.sum)
  }

  def layers(warm: Seq[Seq[Span]]): Map[String, Double] = {
    val publish = delta(warm, "jobs.write", "fs_log_s")
    hitLayers(warm) ++ Map(
      "jobs.export.self_s" -> self(warm, "jobs.export"),
      "jobs.touchpoints.self_s" -> self(warm, "jobs.touchpoints"),
      "jobs.write.self_s" -> (self(warm, "jobs.write") - publish),
      "jobs.write.bytes" -> delta(warm, "jobs.write", "bytes_written"),
      "jobs.write.files" -> delta(warm, "jobs.write", "parquet_files"),
      "sources.group_publish_s" -> publish,
      "sources.write_amp" -> writeAmp())
  }

  override def details(ops: Seq[Op]): Map[String, Any] =
    Map("hits_per_day" -> hitsPerDay, "days_run" -> next, "hits_per_s" -> hitsPerS(ops),
      "write_amp" -> writeAmp())
}
