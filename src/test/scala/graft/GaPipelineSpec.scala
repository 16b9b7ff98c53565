package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.jobs.{DailyJob, GaPipeline}

class GaPipelineSpec extends SparkTestBase {

  private lazy val hits =
    Ingest.readEnrichedHits(spark, "fixtures/ga/enriched/year=2019/month=09/day=23")
  private lazy val out = GaPipeline.run(
    hits, GaPipeline.loadHistory(spark, "/nonexistent/history"), "2019-09-23")

  test("sessions: one row per session; timing-absorbed session start disappears") {
    val sess = out.sessions
    // v15: its only session start was a timing hit (dropped after flags) ->
    // no session row at all (faithful to reference operator order).
    assert(sess.filter(col("fullVisitorId") === "cid-v15").count() == 0)
    // v01 has two sessions
    assert(sess.filter(col("fullVisitorId") === "cid-v01").count() == 2)
    // v17's midnight-spanning session starts on 09-22 and is DROPPED by the
    // new_sessions day filter (P5) — the reference silently never
    // sessionizes it (SURVEY §2.8); only the on-date session survives.
    val v17 = sess.filter(col("fullVisitorId") === "cid-v17")
      .select("date").collect().map(_.getInt(0)).sorted.toSeq
    assert(v17 == Seq(20190923))
  }

  test("timezone parity: date/hour derivations track the SESSION zone " +
    "(the reference computes everything in Europe/Berlin) — never a " +
    "silent UTC assumption") {
    val berlin = spark.newSession()
    berlin.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
    val bHits = Ingest.readEnrichedHits(berlin,
      "fixtures/ga/enriched/year=2019/month=09/day=23")
    val bOut = GaPipeline.run(bHits,
      GaPipeline.loadHistory(berlin, "/nonexistent/history"), "2019-09-23",
      persistExport = false)
    val utcPv = out.pageviews.select(col("requestId"),
      col("hits_hour").cast("long").as("h_utc")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val berPv = bOut.pageviews.select(col("requestId"),
      col("hits_hour").cast("long").as("h_ber")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // CEST for 2019-09-23: every shared hit derives hour = UTC + 2
    val shared = utcPv.keySet.intersect(berPv.keySet)
    assert(shared.size > 100, s"expected a large shared set: ${shared.size}")
    shared.foreach { id =>
      assert(berPv(id) == (utcPv(id) + 2) % 24,
        s"$id: Berlin hour ${berPv(id)} vs UTC ${utcPv(id)}")
    }
    // roll witness: v17's night hits (23:xx UTC on the 22nd) derive
    // Berlin hour 1 on the 23rd — the cross-midnight case the +2 rule
    // must cover, not just same-day shifts
    assert(shared.exists(id => utcPv(id) == 23 && berPv(id) == 1),
      "expected the 23:xx-UTC night hits to derive Berlin hour 1")
    // and every served date is the job date under EITHER zone
    assert(bOut.sessions.select("date").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(20190923))
  }

  test("per-session revenue lands on the session-start row as a string") {
    val v01 = out.sessions.filter(col("fullVisitorId") === "cid-v01")
      .select("visitNumber", "totals_transactionRevenue")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(v01(2) == "99.75") // purchase session
    assert(v01(1) == null)    // no purchase: NULL (reference faithful)
  }

  test("touchpoints accumulate across a visitor's sessions") {
    val v12 = out.sessions.filter(col("fullVisitorId") === "cid-v12")
      .orderBy("visitNumber")
      .select("touchpoints", "first_touchpoint", "last_touchpoint")
      .collect()
    assert(v12.length == 2)
    val tps = v12(0).getSeq[String](0)
    assert(tps == Seq("bing", "google")) // mscklid session then dclid session
    assert(v12(0).getString(1) == "bing")
    assert(v12(0).getString(2) == "google")
  }

  test("hit tables partition the export rows by type with correct filters") {
    assert(out.pageviews.filter(col("hits_type") =!= "PAGE").count() == 0)
    assert(out.events.filter(col("hits_product_productSKU").isNotNull).count() == 0)
    val productRows = out.products.collect()
    assert(productRows.nonEmpty)
    assert(productRows.forall(_.getAs[String]("hits_type") == "EVENT"))
    assert(out.transactions.count() == 1) // v01's transaction hit
    assert(out.items.count() == 2)        // v01's two item hits
  }

  test("export table: hit numbering is per-user (reference quirk W6)") {
    val export = GaPipeline.exportTable(
      graft.operators.Ecommerce.explodeProducts(
        GaPipeline.withDerivedColumns(GaPipeline.sessionized(hits)))
        .withColumn("product_revenue", lit(null).cast("double")))
    val v01 = export.filter(col("fullVisitorId") === "cid-v01" &&
        col("hits_product_productSKU").isNull)
      .select("hits_hitNumber").collect().map(_.getInt(0)).sorted.toSeq
    // v01 has 7 hits; the purchase hit (sequence 4) explodes into 2 SKU
    // rows (excluded by the SKU filter): numbering continues across its
    // two sessions — per-user, not per-session.
    assert(v01 == Seq(1, 2, 3, 5, 6, 7))
  }

  test("export table: a non-bot geo-lookup miss exports a NULL " +
    "cityId instead of failing the ANSI int cast") {
    // GeoIp marks a non-bot miss '(not set)' in every geo string column
    val missed = hits.withColumn("geo_city_id",
      when(col("device_is_bot"), col("geo_city_id")).otherwise("(not set)"))
    val export = GaPipeline.exportTable(
      graft.operators.Ecommerce.explodeProducts(
        GaPipeline.withDerivedColumns(GaPipeline.sessionized(missed)))
        .withColumn("product_revenue", lit(null).cast("double")))
    val ids = export.select("geoNetwork_cityId").collect()
    assert(ids.nonEmpty && ids.forall(_.isNullAt(0)))
  }

  test("incremental touchpoints: persisted rows identical to full recompute; untouched history passes through") {
    val jobDate = "2019-09-23"
    val empty = GaPipeline.loadHistory(spark, "/nonexistent/history")
    val base = GaPipeline.run(hits, empty, jobDate).sessions
      .filter(to_date(col("timestamp")) === lit(jobDate))
    // Yesterday's history: today's sessions shifted back one day; half the
    // visitors renamed so they are NOT seen today (the untouched path).
    val hist = base
      .withColumn("timestamp", col("timestamp") - expr("INTERVAL 1 DAY"))
      .withColumn("date", lit(20190922))
      .withColumn("fullVisitorId",
        when(crc32(col("fullVisitorId")) % 2 === 0,
          concat(lit("zz-"), col("fullVisitorId")))
          .otherwise(col("fullVisitorId")))
      .localCheckpoint(true) // three consumers in incremental mode
    val cols = hist.columns.map(col).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*)
        .orderBy("fullVisitorId", "visitId", "timestamp").collect().toSeq
    val full = GaPipeline.run(hits, hist, jobDate).sessions
    val inc = GaPipeline.run(hits, hist, jobDate,
      incrementalTouchpoints = true).sessions
    // The rows DailyJob persists (today's) are identical in both modes.
    val today = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(to_date(col("timestamp")) === lit(jobDate))
    assert(rows(today(inc)) == rows(today(full)))
    // Untouched visitors' history rows pass through bit-identical.
    assert(rows(inc.filter(col("fullVisitorId").startsWith("zz-"))) ==
      rows(hist.filter(col("fullVisitorId").startsWith("zz-"))))
    // Touched visitors' today paths really absorbed their history.
    assert(today(inc).filter(!col("fullVisitorId").startsWith("zz-") &&
      size(col("touchpoints")) >= 2).count() > 0)
  }

  test("DailyJob writes history + six daily tables; day filter drops off-date sessions") {
    val tmp = Files.createTempDirectory("gajob").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths)
    val history = spark.read.parquet(paths.historyPath)
    // v17's 09-22 session is excluded by the day filter
    assert(history.filter(col("date") === 20190922).count() == 0)
    val nSessions = spark.read.parquet(paths.daily("sessions")).count()
    assert(nSessions == history.count())
    assert(spark.read.parquet(paths.daily("pageviews")).count() > 0)
    assert(spark.read.parquet(paths.daily("transactions")).count() == 1)
    // Second run: the appended sessions table now contains history-union-
    // today (both on-date), so the append grows 2N — total 3N. This is the
    // reference's documented re-run double-append defect (main.py:1320-1325,
    // SURVEY §2.8), reproduced faithfully; StreamingJob is the fixed path.
    DailyJob.run(spark, paths)
    assert(spark.read.parquet(paths.historyPath).count() == 3 * nSessions)
  }

  test("idempotent history: re-running a day appends nothing new") {
    val tmp = Files.createTempDirectory("gaidem").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths, catalogDb = None, idempotentHistory = true)
    val n = spark.read.parquet(paths.historyPath).count()
    assert(n > 0)
    // crash-retry / double-trigger: the session-key anti-join absorbs it
    DailyJob.run(spark, paths, catalogDb = None, idempotentHistory = true)
    assert(spark.read.parquet(paths.historyPath).count() == n,
      "re-run must not double-append (the reference defect, fixed)")
  }

  test("mergeHistoryPartitioned rewrites only the batch's date partition; " +
    "other days' files untouched on disk") {
    val tmp = Files.createTempDirectory("gamergep").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths, catalogDb = None, idempotentHistory = true)
    val day1 = spark.read.parquet(paths.historyPath).collect()
    val day1df = spark.createDataFrame(
      spark.sparkContext.parallelize(day1.toSeq),
      spark.read.parquet(paths.historyPath).schema)
    // fabricate a second day: same schema, distinct keys, date=20190924
    val day2df = day1df
      .withColumn("date", lit(20190924))
      .withColumn("fullVisitorId", concat(lit("d2-"), col("fullVisitorId")))
    val root = s"$tmp/history_part"
    DailyJob.mergeHistoryPartitioned(spark, root, day1df.unionByName(day2df))
    val n0 = spark.read.parquet(root).count()
    assert(n0 == 2L * day1.length)
    def files(date: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/date=$date")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d2Before = files("20190924")
    assert(d2Before.nonEmpty)
    Thread.sleep(1100) // mtime granularity
    // re-run day 1 with one session's revenue restated
    val key = day1df.orderBy("fullVisitorId", "visitId")
      .select("fullVisitorId", "visitId").head()
    val restated = day1df.withColumn("totals_transactionRevenue",
      when(col("fullVisitorId") === key.getString(0) &&
        col("visitId") === key.get(1), lit("777770000"))
        .otherwise(col("totals_transactionRevenue")))
    DailyJob.mergeHistoryPartitioned(spark, root, restated)
    // day-2 partition byte-untouched; day-1 updated in place
    assert(files("20190924") == d2Before,
      "unmerged day's partition must never be rewritten")
    val after = spark.read.parquet(root)
    assert(after.count() == n0)
    assert(after.filter(col("fullVisitorId") === key.getString(0) &&
      col("visitId") === key.get(1) &&
      col("totals_transactionRevenue") === "777770000").count() == 1)
    assert(after.groupBy("fullVisitorId", "visitId").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("mergeHistoryVersioned: pointer always resolves to a complete tree; " +
    "superseded version survives one generation for in-flight readers") {
    val tmp = Files.createTempDirectory("gamergev").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths, catalogDb = None, idempotentHistory = true)
    val batch = spark.read.parquet(paths.historyPath)
    val n = batch.count()
    val root = s"$tmp/history_v"
    // bootstrap: no pointer yet → schema-correct empty history
    assert(DailyJob.loadHistoryVersioned(spark, root).count() == 0)
    DailyJob.mergeHistoryVersioned(spark, root, batch)
    def pointer(): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/_CURRENT")), "UTF-8").trim
    assert(pointer() == "v=00000000")
    assert(DailyJob.loadHistoryVersioned(spark, root).count() == n)
    // merge a restated batch: new version published, pointer swapped,
    // the OLD version's files stay byte-identical for in-flight readers
    val key = batch.orderBy("fullVisitorId", "visitId")
      .select("fullVisitorId", "visitId").head()
    val restated = batch.withColumn("totals_transactionRevenue",
      when(col("fullVisitorId") === key.getString(0) &&
        col("visitId") === key.get(1), lit("555550000"))
        .otherwise(col("totals_transactionRevenue")))
    def files(v: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/$v")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val v0Files = files("v=00000000")
    assert(v0Files.nonEmpty)
    DailyJob.mergeHistoryVersioned(spark, root, restated)
    assert(pointer() == "v=00000001")
    assert(files("v=00000000") == v0Files,
      "superseded version must survive untouched for in-flight readers")
    val after = DailyJob.loadHistoryVersioned(spark, root)
    assert(after.count() == n)
    assert(after.filter(col("fullVisitorId") === key.getString(0) &&
      col("visitId") === key.get(1) &&
      col("totals_transactionRevenue") === "555550000").count() == 1)
    // third merge: v0 is GC'd, v1 (the predecessor) kept
    DailyJob.mergeHistoryVersioned(spark, root, restated)
    assert(pointer() == "v=00000002")
    assert(!new java.io.File(s"$root/v=00000000").exists(), "GC keeps 2 versions")
    assert(new java.io.File(s"$root/v=00000001").exists())
    assert(DailyJob.loadHistoryVersioned(spark, root).count() == n)
  }

  test("csvDelivery writes the four tables where the reference's SFTP " +
    "uploader regex finds them") {
    val tmp = Files.createTempDirectory("gacsv").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths, catalogDb = None, csvDelivery = true)
    // the uploader filters bucket keys with
    //   ^aggregated/ga/year=Y/month=M/day=D/(sessions|pageviews|products|events).*csv$
    // (reference sftp-uploader/main.py:48) — every table must yield at
    // least one matching key relative to the out root
    val uploaderRegex =
      ("^aggregated/ga/year=2019/month=09/day=23/" +
        "(sessions|pageviews|products|events).*csv$").r
    val root = java.nio.file.Paths.get(tmp)
    val keys = java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq
    val matched = keys.filter(k => uploaderRegex.findFirstIn(k).isDefined)
    Seq("sessions", "pageviews", "products", "events").foreach { t =>
      assert(matched.exists(_.contains(s"/$t/")),
        s"no uploader-visible csv for $t; keys=${keys.filter(_.contains(t))}")
    }
    // content round-trips: header + escaped CSV reads back with the
    // session count, and the nested touchpoints column is serialized
    val back = spark.read.option("header", "true").option("escape", "\"")
      .option("multiLine", "true").csv(paths.delivery("sessions"))
    assert(back.count() ==
      spark.read.parquet(paths.daily("sessions")).count())
    assert(back.columns.contains("touchpoints"))
    // parquet outputs still present next to the delivery tree
    assert(new java.io.File(paths.daily("sessions")).exists())
  }

  test("Delivery.packageDelivery zips the date's CSVs under the uploader's " +
    "names, byte-deterministically; the upload-state ledger merges by key") {
    import graft.jobs.Delivery
    val tmp = Files.createTempDirectory("gadeliv").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths, catalogDb = None, csvDelivery = true)
    val (zipPath, keys) = Delivery.packageDelivery(spark, paths,
      uploadedAt = "2019-09-24T03:00:00")
    assert(zipPath.endsWith("/outgoing/20190923.zip"))
    // entries carry the uploader's /tmp naming: <table>_<YYYYMMDD>.csv
    val zf = new java.util.zip.ZipFile(zipPath)
    val entries = try {
      val es = zf.entries()
      Iterator.continually(es).takeWhile(_.hasMoreElements)
        .map(_.nextElement().getName).toList
    } finally zf.close()
    assert(entries.sorted == List("events_20190923.csv",
      "pageviews_20190923.csv", "products_20190923.csv",
      "sessions_20190923.csv"), entries.toString)
    // an entry's content is the delivery CSV verbatim
    val zf2 = new java.util.zip.ZipFile(zipPath)
    val sessionBytes = try {
      val in = zf2.getInputStream(zf2.getEntry("sessions_20190923.csv"))
      try in.readAllBytes() finally in.close()
    } finally zf2.close()
    val srcCsv = new java.io.File(paths.delivery("sessions")).listFiles()
      .filter(_.getName.endsWith(".csv")).head
    assert(java.util.Arrays.equals(sessionBytes,
      java.nio.file.Files.readAllBytes(srcCsv.toPath)))
    // ledger: one success row carrying the compressed keys, all of
    // which the uploader's own regex would have selected
    val state1 = Delivery.uploadState(spark, tmp).collect()
    assert(state1.length == 1)
    val r = state1.head
    assert(r.getAs[String]("uploaded_file_name") == "20190923.zip")
    assert(r.getAs[String]("status") == "success")
    assert(r.getAs[String]("uploaded_at") == "2019-09-24T03:00:00")
    val uploaderRegex =
      ("^aggregated/ga/year=2019/month=09/day=23/" +
        "(sessions|pageviews|products|events).*csv$").r
    val recorded = r.getSeq[String](r.fieldIndex("compressed_files"))
    assert(recorded.toSet == keys.toSet && keys.size == 4)
    keys.foreach(k => assert(uploaderRegex.findFirstIn(k).isDefined, k))
    // re-packaging is idempotent: the zip is byte-identical (fixed
    // entry times, sorted order) and the ledger row is REPLACED, not
    // duplicated
    val bytes1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(zipPath))
    val (zipPath2, _) = Delivery.packageDelivery(spark, paths,
      uploadedAt = "2019-09-24T06:00:00") // a later retry
    assert(zipPath2 == zipPath)
    assert(java.util.Arrays.equals(bytes1,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(zipPath))))
    val state2 = Delivery.uploadState(spark, tmp).collect()
    assert(state2.length == 1)
    assert(state2.head.getAs[String]("uploaded_at") == "2019-09-24T06:00:00")
  }

  test("group-atomic daily write: a re-run replaces only that day's " +
    "partitions") {
    import org.apache.spark.sql.functions.{expr, lit => flit}
    import graft.sources.{Manifest, ManifestGroup}
    val tmp = Files.createTempDirectory("gadyn").toString
    // two-day synthetic table (the GA fixture's sessions all date to one
    // Berlin day, so the boundary is built here): v=1 marks the batch
    def batch(rows: Seq[(String, Int)], v: Int) = {
      import spark.implicits._
      rows.toDF("ts_s", "k")
        .select(expr("cast(ts_s as timestamp)").as("timestamp"), col("k"),
          flit(v).as("v"))
    }
    // the same frame as every one of the six export tables
    def outputs(df: org.apache.spark.sql.DataFrame) =
      GaPipeline.Outputs(df, df, df, df, df, df)
    val sessDir = s"$tmp/daily/type=sessions"
    def day22Files(members: Map[String, Long]): Set[String] =
      Manifest.filesAt(spark, sessDir, members(ManifestGroup.normKey(sessDir)))
        .filter(_.contains("/day=22/")).toSet
    val both = batch(Seq(("2019-09-22 10:00:00", 1), ("2019-09-22 11:00:00", 2),
      ("2019-09-23 09:00:00", 3)), v = 1)
    val (_, m1) = DailyJob.writeDailyGroupAtomic(spark, outputs(both), tmp,
      Seq("2019-09-22", "2019-09-23"), catalogDb = None)
    val first = Manifest.read(spark, sessDir)
    assert(first.filter(col("day") === 22).count() == 2)
    assert(first.filter(col("day") === 23).count() == 1)
    val siblingBefore = day22Files(m1)
    assert(siblingBefore.nonEmpty)
    // re-run ONLY 09-23 with a CHANGED batch (v=2, two rows): 09-22's
    // live files must carry forward unchanged
    val redo = batch(Seq(("2019-09-23 09:00:00", 3), ("2019-09-23 10:00:00", 4)),
      v = 2)
    val (_, m2) = DailyJob.writeDailyGroupAtomic(spark, outputs(redo), tmp,
      Seq("2019-09-23"), catalogDb = None)
    assert(day22Files(m2) == siblingBefore,
      "the sibling day's live files must not change")
    val second = Manifest.read(spark, sessDir)
    assert(second.filter(col("day") === 22 && col("v") === 1).count() == 2,
      "sibling day clobbered")
    assert(second.filter(col("day") === 23).count() == 2)
    assert(second.filter(col("day") === 23 && col("v") === 2).count() == 2,
      "re-run day must be fully replaced, not appended")
  }

  test("catalog statistics: ANALYZE persists row counts + column NDV " +
    "for the cost-based optimizer") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("gastats").toString
    spark.range(100).selectExpr("id", "id % 7 AS k")
      .write.parquet(s"$tmp/daily/type=sessions/year=2019/month=09/day=23")
    graft.jobs.GaCatalog.registerTyped(spark, tmp, db = "ga_stats_test",
      types = Seq("sessions"))
    graft.jobs.GaCatalog.analyze(spark, "ga_stats_test", "daily_sessions",
      columns = Seq("k"))
    val t = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "daily_sessions", Some("ga_stats_test")))
    val stats = t.stats.getOrElse(fail("no table stats after ANALYZE"))
    assert(stats.rowCount.contains(BigInt(100)), stats.toString)
    val kStats = stats.colStats.getOrElse("k", fail("no column stats for k"))
    assert(kStats.distinctCount.contains(BigInt(7)), kStats.toString)
  }

  test("catalog registration: outputs readable BY TABLE NAME, daily scan " +
    "prunes on the type/year/month/day partitions") {
    val tmp = Files.createTempDirectory("gacat").toString
    val paths = DailyJob.Paths("fixtures/ga/enriched", tmp, "2019-09-23")
    DailyJob.run(spark, paths) // registers ga.daily + ga.sessions_history
    val daily = spark.table("ga.daily")
    // partition columns came from the k=v directory layout, not the files
    assert(Seq("type", "year", "month", "day").forall(daily.columns.contains))
    val sessions = daily.filter(col("type") === "sessions")
    assert(sessions.count() ==
      spark.read.parquet(paths.daily("sessions")).count())
    assert(spark.table("ga.sessions_history").count() ==
      spark.read.parquet(paths.historyPath).count())
    // Pruning is answered from the catalog's partition metadata: the
    // scan carries a non-trivial PartitionFilter on `type` and reads
    // exactly 1 of the 6 registered type partitions.
    val plan = sessions.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*type".r.findFirstIn(plan).isDefined,
      s"no partition filter on type:\n$plan")
    val scanned = sessions.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("type=sessions")),
      s"scan touched non-pruned partitions: ${scanned.mkString(", ")}")
  }
}
