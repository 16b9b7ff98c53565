package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.GaFunctions
import graft.ingest.Ingest
import graft.operators.{Attribution, Ecommerce, Sessionization}
import graft.schema.GaSchemas

/** The GA daily analytical pipeline — reference `pipeline()`
  * (functions/sessionization/main.py:1155-1290) as one declarative Spark
  * plan.
  *
  * Shuffle budget (the property that must survive a 1000x scale-up):
  *  - ONE hash shuffle by `body_cid` serves every window in the hit stage:
  *    lag/flags/running-sum (W1–W3), per-session min/max/id (W4/W5/W7),
  *    event_sequence (W6) and per-session revenue (A2/W8 — computed over
  *    (cid, session number), which determines visit_id, instead of the
  *    reference's fresh `partition by visit_id` window, so no re-shuffle).
  *  - Attribution, page paths, action types, the ecommerce explode and the
  *    80-col projection are pure per-row expressions — no exchange at all
  *    (the reference spends 2 RDD round-trips + a self-join here).
  *  - The touchpoint stage shuffles once by `fullVisitorId` (history union
  *    changes cardinality, so this exchange is genuine).
  * The export table is persisted once and reused by all 6 outputs — the
  * reference recomputes the whole UDF plan per write (7 actions, no cache).
  */
object GaPipeline {

  private val dec = DecimalType(18, 6)

  /** Hit-stage sessionization (reference main.py:408-460):
    * flags over ALL hits, then the timing/adtiming drop (P4 — a timing hit
    * CAN absorb a session start; faithful), then per-session windows and
    * revenue on the filtered rows. */
  def sessionized(hits: DataFrame, idAlgo: String = "sha1"): DataFrame = {
    val cid = col("body_cid")
    val recv = col("recv_ms")
    val withMs = hits.withColumn("recv_ms", col("received_at_apig").cast("long"))
      .withColumn("ts", timestamp_seconds((col("recv_ms") / lit(1000L)).cast("long")))
    val flagged = Sessionization.withSessionFlags(
      withMs, cid, recv, tieBreakers = Seq(col("message_id")))
      .withColumnRenamed("session_seq", "user_session_id")
      .filter(!col("body_t").isin("adtiming", "timing"))

    // (cid, user_session_id) windows: child already hash-partitioned by cid
    // — local sort only, no new exchange.
    val ws = Window.partitionBy(cid, col("user_session_id"))
    val wSeq = Window.partitionBy(cid).orderBy(recv, col("message_id"))
    val idInput = concat(cid.cast("string"),
      col("first_value").cast("string"), col("last_value").cast("string"))

    val sessionRevenue = sum(
      when(col("body_t") === "event" && col("body_pa") === "purchase",
        col("body_tr").cast(dec))).over(ws)

    // Two withColumns batches (not a withColumn chain: every withColumn
    // re-analyzes the whole ~280-col plan — measured ~1 s of driver time
    // per pipeline build); batch 2 references batch 1's columns.
    flagged
      // W4/W5: deterministic min/max replaces the reference's order-dependent
      // first_value / unordered last_value (main.py:442-445).
      // A2/W8: string-typed on session-start rows, '' elsewhere (faithful,
      // incl. NULL on start rows of purchase-free sessions).
      .withColumns(Map(
        "first_value" -> min(recv).over(ws),
        "last_value" -> max(recv).over(ws),
        "event_sequence" -> row_number().over(wSeq),
        "total_revenue_per_session" ->
          when(col("is_new_session") === 1,
            sessionRevenue.cast("double").cast("string"))
            .otherwise(lit(""))))
      .withColumn("visit_id",
        if (idAlgo == "md5") md5(idInput) else sha1(idInput))
  }

  /** Attribution + page-path + action-type columns (reference
    * main.py:1164-1248) — pure expressions, no exchange. */
  def withDerivedColumns(df: DataFrame): DataFrame = {
    val isNew = col("is_new_session")
    val dl = col("body_dl")
    val dr = col("body_dr")
    val med = Attribution.medium(isNew, dl, dr)
    val levels = Attribution.pagePathLevels(dl)
    // One withColumns batch + one dependent follow-up (is_true_direct
    // reads the source COLUMN); a 16-deep withColumn chain costs 16 full
    // re-analyses of the ~280-col plan.
    df.withColumns(Map(
      "traffic_source_source" -> Attribution.source(isNew, dl, dr),
      "traffic_source_campaign" -> Attribution.campaign(isNew, dl),
      "traffic_source_medium" -> med,
      "traffic_source_keyword" -> Attribution.keyword(isNew, dl, dr, med),
      "traffic_source_ad_content" -> Attribution.adContent(isNew, dl, dr),
      "page_path_level_one" -> levels(0),
      "page_path_level_two" -> levels(1),
      "page_path_level_three" -> levels(2),
      "page_path_level_four" -> levels(3),
      "landing_page" -> Attribution.landingPage(isNew, dl),
      "page_path" -> Attribution.pagePath(dl),
      "hostname" -> Attribution.hostname(dl),
      "action_type" -> GaFunctions.actionType(col("body_pa")),
      "hits_type" -> GaFunctions.hitsType(col("body_t"))))
      .withColumn("traffic_source_is_true_direct",
        Attribution.isTrueDirect(col("traffic_source_source")))
  }

  /** P1 — the 80-column BigQuery-export-style projection
    * (create_export_table, main.py:819-926). Runs after the ecommerce
    * explode, so `pr*` and `product_revenue` are in scope. */
  def exportTable(df: DataFrame): DataFrame = {
    def nz(c: String): Column = coalesce(col(c), lit(""))
    df.select(
      col("body_cid").as("fullVisitorId"),
      col("visit_id").as("visitId"),
      nz("body_uid").as("userId"),
      col("message_id").as("requestId"),
      col("ts").as("timestamp"),
      col("user_session_id").cast("int").as("visitNumber"),
      col("first_value").cast("long").as("visitStartTime"),
      date_format(col("ts"), "yMMdd").as("date"),
      nz("body_dr").as("trafficSource_referralPath"),
      col("traffic_source_campaign").as("trafficSource_campaign"),
      col("traffic_source_source").as("trafficSource_source"),
      col("traffic_source_medium").as("trafficSource_medium"),
      col("traffic_source_keyword").as("trafficSource_keyword"),
      col("traffic_source_ad_content").as("trafficSource_ad_content"),
      col("geo_continent").as("geoNetwork_continent"),
      col("geo_sub_continent").as("geoNetwork_subContinent"),
      col("geo_country").as("geoNetwork_country"),
      col("geo_region").as("geoNetwork_region"),
      col("geo_metro").as("geoNetwork_metro"),
      col("geo_city").as("geoNetwork_city"),
      // a non-bot geo-lookup miss carries GeoIp's '(not set)' marker:
      // the INT column exports NULL for it (as latitude/longitude do);
      // any other non-integer id still fails the ANSI cast loudly
      when(col("geo_city_id") =!= "(not set)",
        col("geo_city_id").cast("int")).as("geoNetwork_cityId"),
      col("geo_network_domain").as("geoNetwork_networkDomain"),
      col("geo_latitude").as("geoNetwork_latitude"),
      col("geo_longitude").as("geoNetwork_longitude"),
      col("geo_network_location").as("geoNetwork_networkLocation"),
      col("device_client_name").as("device_browser"),
      // try_cast: '12.1.2'-style versions are not doubles; the reference
      // (non-ANSI Spark 2.4) silently nulls them, ANSI cast would throw.
      expr("try_cast(device_client_version AS double)").as("device_browserVersion"),
      col("body_vp").as("device_browserSize"),
      col("device_os_name").as("device_operatingSystem"),
      col("device_os_version").as("device_operatingSystemVersion"),
      col("device_is_mobile").as("device_isMobile"),
      col("device_device_brand").as("device_mobileDeviceBranding"),
      col("device_device_model").as("device_mobileDeviceModel"),
      col("device_device_input").as("device_mobileInputSelector"),
      col("device_device_info").as("device_mobileDeviceInfo"),
      col("device_device_name").as("device_mobileDeviceMarketingName"),
      expr("try_cast(body_fl AS int)").as("device_flashVersion"),
      nz("body_je").as("device_javaEnabled"),
      nz("body_ul").as("device_language"),
      nz("body_sd").as("device_screenColors"),
      nz("body_sr").as("device_screenResolution"),
      col("device_device_type").as("device_deviceCategory"),
      col("landing_page").as("landingPage"),
      nz("body_ec").as("hits_eventInfo_eventCategory"),
      nz("body_ea").as("hits_eventInfo_eventAction"),
      nz("body_el").as("hits_eventInfo_eventLabel"),
      nz("body_ev").as("hits_eventInfo_eventValue"),
      col("event_sequence").as("hits_hitNumber"),
      col("ts").as("hits_time"),
      hour(col("ts")).as("hits_hour"),
      minute(col("ts")).as("hits_minute"),
      lit("").as("hits_isSecure"),
      nz("body_ni").as("hits_isInteractive"),
      lit("").as("hits_referer"),
      col("page_path").as("hits_page_pagePath"),
      col("hostname").as("hits_page_hostname"),
      nz("body_dt").as("hits_page_pageTitle"),
      lit("").as("hits_page_searchKeyword"),
      lit("").as("hits_page_searchCategory"),
      col("page_path_level_one").as("hits_page_pagePathLevel1"),
      col("page_path_level_two").as("hits_page_pagePathLevel2"),
      col("page_path_level_three").as("hits_page_pagePathLevel3"),
      col("page_path_level_four").as("hits_page_pagePathLevel4"),
      lit("").as("hits_item_localItemRevenue"),
      nz("body_col").as("hits_eCommerceAction_option"),
      nz("body_cos").as("hits_eCommerceAction_step"),
      col("action_type").as("hits_eCommerceAction_action_type"),
      nz("body_tcc").as("hits_transation_transactionCoupon"),
      nz("body_ti").as("hits_transaction_transactionId"),
      nz("body_tr").as("hits_transaction_transactionRevenue"),
      col("total_revenue_per_session").as("totals_transactionRevenue"),
      nz("body_ts").as("hits_transaction_transactionShipping"),
      nz("body_tt").as("hits_transaction_transactionTax"),
      nz("body_cu").as("hits_transaction_currencyCode"),
      nz("body_ti").as("hits_item_transactionId"),
      nz("body_in").as("hits_item_productName"),
      nz("body_ip").as("hits_item_itemRevenue"),
      nz("body_iq").as("hits_item_itemQuantity"),
      nz("body_ic").as("hits_item_productSku"),
      nz("body_iv").as("hits_item_productCategory"),
      nz("body_cu").as("hits_item_currencyCode"),
      col("hits_type"),
      col("prca").as("hits_product_v2ProductCategory"),
      col("prid").as("hits_product_productSKU"),
      col("prnm").as("hits_product_v2ProductName"),
      col("prbr").as("hits_product_productBrand"), // beyond-reference: br kept
      col("prpr").as("hits_product_productPrice"),
      col("prqt").as("hits_product_productQuantity"),
      col("prva").as("hits_product_productVariant"),
      col("product_revenue").as("hits_product_productRevenue"),
      col("is_new_session"))
  }

  /** P2 — one row per session, 43 visible columns (main.py:929-978). */
  def exportSessions(export: DataFrame): DataFrame =
    export.filter(col("is_new_session") === 1).select(
      col("fullVisitorId"), col("visitId"), col("userId"),
      col("visitNumber"), col("visitStartTime"),
      col("date").cast("int").as("date"), col("timestamp"),
      col("trafficSource_campaign"), col("trafficSource_source"),
      col("trafficSource_medium"), col("trafficSource_keyword"),
      col("trafficSource_ad_content"),
      col("geoNetwork_continent"), col("geoNetwork_subContinent"),
      col("geoNetwork_country"), col("geoNetwork_region"),
      col("geoNetwork_metro"), col("geoNetwork_city"), col("geoNetwork_cityId"),
      col("geoNetwork_networkDomain"), col("geoNetwork_latitude"),
      col("geoNetwork_longitude"), col("geoNetwork_networkLocation"),
      col("device_browser"), col("device_browserVersion"),
      col("device_browserSize"), col("device_operatingSystem"),
      col("device_operatingSystemVersion"), col("device_isMobile"),
      col("device_mobileDeviceBranding"), col("device_mobileDeviceModel"),
      col("device_mobileInputSelector"), col("device_mobileDeviceInfo"),
      col("device_mobileDeviceMarketingName"),
      col("device_flashVersion"),
      col("device_javaEnabled"), col("device_language"),
      col("device_screenColors"), col("device_screenResolution"),
      col("device_deviceCategory"), col("totals_transactionRevenue"),
      col("landingPage"), col("hits_type"))

  /** New-session rows padded with null touchpoint columns + the day filter
    * (P5, main.py:981-988). */
  def newSessions(sessions: DataFrame, jobDate: String): DataFrame =
    sessions
      .withColumns(Map(
        "touchpoints" -> lit(null).cast("array<string>"),
        "touchpoints_wo_direct" -> lit(null).cast("array<string>"),
        "first_touchpoint" -> lit(null).cast("string"),
        "last_touchpoint" -> lit(null).cast("string")))
      .filter(to_date(col("timestamp")) === lit(jobDate))

  /** A3/A5/W9 — multi-channel touchpoints over history ∪ today
    * (calculate_touchpoints, main.py:995-1010). Deterministic ordering
    * (timestamp, visitId) replaces the reference's global orderBy +
    * unordered collect_list. One shuffle by fullVisitorId.
    *
    * The path is capped at the visitor's first `maxTouchpoints` sessions
    * (GA360-style): only rows with row_number <= cap feed the
    * collect_list (collect_list skips the nulls `when` produces for the
    * rest), so the aggregation buffer is BOUNDED per key — a visitor with
    * 10^7 sessions costs cap entries of state, not 10^7. The row_number
    * rides the same (fullVisitorId) partitioning: no extra exchange. */
  def withTouchpoints(sessions: DataFrame,
                      maxTouchpoints: Int = 1000): DataFrame = {
    val w = Window.partitionBy(col("fullVisitorId"))
      .orderBy(col("timestamp"), col("visitId"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sessions
      .withColumn("_tp_rn", row_number().over(w))
      .withColumn("touchpoints",
        collect_list(when(col("_tp_rn") <= maxTouchpoints,
          col("trafficSource_source"))).over(wAll))
      .withColumn("touchpoints_wo_direct",
        filter(col("touchpoints"), x => x =!= "(direct)"))
      .withColumn("first_touchpoint", first(col("trafficSource_source")).over(w))
      .withColumn("last_touchpoint",
        coalesce(try_element_at(reverse(col("touchpoints_wo_direct")), lit(1)),
          lit("(direct)")))
      .drop("_tp_rn")
  }

  /** P3 — the five hit-type projections (main.py:1012-1151). */
  private val pageviewCols: Seq[String] = Seq(
    "fullVisitorId", "visitId", "requestId", "visitStartTime", "timestamp",
    "hits_hitNumber", "hits_time", "hits_hour", "hits_minute", "hits_isSecure",
    "hits_isInteractive", "hits_referer", "hits_page_pagePath",
    "hits_page_hostname", "hits_page_pageTitle", "hits_page_pagePathLevel1",
    "hits_page_pagePathLevel2", "hits_page_pagePathLevel3",
    "hits_page_pagePathLevel4", "hits_eventInfo_eventCategory",
    "hits_eventInfo_eventAction", "hits_eventInfo_eventLabel",
    "hits_eventInfo_eventValue", "hits_type")

  def hitsPageviews(export: DataFrame): DataFrame =
    export.filter(col("hits_type") === "PAGE")
      .select(pageviewCols.map(col): _*)

  def hitsEvents(export: DataFrame): DataFrame =
    export.filter(col("hits_type") === "EVENT" &&
      col("hits_product_productSKU").isNull)
      .select(pageviewCols.map(col): _*)

  def hitsProducts(export: DataFrame): DataFrame =
    export.filter(col("hits_product_productSKU") =!= "" &&
      col("hits_type") === "EVENT")
      .select(
        col("fullVisitorId"), col("visitId"), col("requestId"),
        col("visitStartTime"), col("timestamp"), col("hits_hitNumber"),
        col("hits_time"), col("hits_hour"), col("hits_minute"),
        col("hits_product_productPrice"), col("hits_product_productQuantity"),
        lit("").as("hits_product_productRefundAmount"),
        col("hits_product_productSKU"), col("hits_product_productBrand"),
        col("hits_product_productVariant"), col("hits_eCommerceAction_option"),
        col("hits_eCommerceAction_step"), col("hits_eCommerceAction_action_type"),
        col("hits_item_transactionId"), col("hits_product_productRevenue"),
        col("hits_transaction_transactionRevenue"), col("hits_type"))

  def hitsTransactions(export: DataFrame): DataFrame =
    export.filter(col("hits_type") === "TRANSACTION")
      .select(
        col("fullVisitorId"), col("visitId"), col("requestId"),
        col("visitStartTime"), col("timestamp"), col("hits_hitNumber"),
        col("hits_time"), col("hits_hour"), col("hits_minute"),
        col("hits_transation_transactionCoupon"),
        col("hits_transaction_transactionId"),
        col("hits_transaction_transactionRevenue"),
        col("totals_transactionRevenue"),
        col("hits_transaction_transactionShipping"),
        col("hits_transaction_transactionTax"))

  def hitsItems(export: DataFrame): DataFrame =
    export.filter(col("hits_type") === "ITEM")
      .select(
        col("fullVisitorId"), col("visitId"), col("requestId"),
        col("visitStartTime"), col("timestamp"), col("hits_hitNumber"),
        col("hits_time"), col("hits_hour"), col("hits_minute"),
        col("hits_item_transactionId"), col("hits_item_productName"),
        col("hits_item_itemRevenue"), col("hits_item_itemQuantity"),
        col("hits_item_productSku"), col("hits_item_productCategory"))

  /** S2 — session-history parquet scan with empty-DF fallback
    * (load_session, main.py:317-327). */
  def loadHistory(spark: SparkSession, path: String): DataFrame = {
    // explicit existence probe, not try-read: a thrown-and-caught
    // AnalysisException still gets stack-logged by Spark, and that noise
    // lands in harness logs as spurious [error] lines
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(touchpointSessionSchema).parquet(path)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        touchpointSessionSchema)
  }

  /** The persisted session schema = P2's 43 columns + 4 touchpoint columns
    * (47 total; main.py:84-132). Derived from GaSchemas.sessionSchema but
    * matching exportSessions' column set/order. */
  lazy val touchpointSessionSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val base = GaSchemas.sessionSchema.fields.filterNot(f =>
      Seq("touchpoints", "touchpoints_wo_direct", "first_touchpoint",
        "last_touchpoint").contains(f.name))
    StructType(base ++ Seq(
      StructField("touchpoints", ArrayType(StringType)),
      StructField("touchpoints_wo_direct", ArrayType(StringType)),
      StructField("first_touchpoint", StringType),
      StructField("last_touchpoint", StringType)))
  }

  case class Outputs(
      sessions: DataFrame, pageviews: DataFrame, events: DataFrame,
      products: DataFrame, transactions: DataFrame, items: DataFrame)

  private val tpCols = Seq("touchpoints", "touchpoints_wo_direct",
    "first_touchpoint", "last_touchpoint")

  /** Full pipeline: enriched hits + history → the six export tables.
    * The export table is persisted once (the reference re-executes the
    * whole plan for each of its 7 write actions).
    *
    * `incrementalTouchpoints` bounds the touchpoint stage to the history
    * of visitors seen TODAY (semi-join on today's ids) instead of
    * re-windowing every visitor's sessions ever recorded — the faithful
    * full recompute's daily cost grows without bound with history. Only
    * today's visitors' paths can change, and every row DailyJob persists
    * (its `dayOnly` filter) belongs to a today-visitor, so the persisted
    * output is identical in both modes; rows of visitors NOT seen today
    * pass through with their stored paths (which a full recompute would
    * rewrite as-of-today — a difference only for consumers of the
    * transient all-history frame, hence the faithful default). */
  def run(hits: DataFrame, history: DataFrame, jobDate: String,
          idAlgo: String = "sha1", persistExport: Boolean = true,
          incrementalTouchpoints: Boolean = false): Outputs = {
    val sess = withDerivedColumns(sessionized(hits, idAlgo))
    val exploded = Ecommerce.explodeProducts(sess)
      .withColumn("product_revenue",
        GaFunctions.productRevenue(col("prqt"), col("prpr"), col("action_type")))
    val exportPlain = exportTable(exploded)
    // Persist when several outputs are consumed (DailyJob writes 7);
    // single-output callers skip the materialization cost.
    val export = if (persistExport) exportPlain.persist() else exportPlain
    val todaySessions = newSessions(exportSessions(export), jobDate)
    val multichannel = if (incrementalTouchpoints) {
      // Join strategy is AQE's call: today's id set is broadcast-sized
      // for most tenants but can reach 10^8 ids at 100 TB/day. The semi
      // and anti branches each recompute the distinct — a cheap map over
      // the persisted export — and each scan history once: shuffle-free
      // columnar reads, deliberately NOT pinned (an eager checkpoint
      // would run a job at plan-construction time and truncate lineage;
      // persisting all-time history costs more than it saves once
      // history outgrows the day).
      val todayIds = todaySessions.select(col("fullVisitorId")).distinct()
      val touched = history.join(todayIds, Seq("fullVisitorId"), "left_semi")
      val untouched = history.join(todayIds, Seq("fullVisitorId"), "left_anti")
      untouched.unionByName(
        withTouchpoints(touched.unionByName(todaySessions).drop(tpCols: _*)))
    } else withTouchpoints(history.unionByName(todaySessions).drop(tpCols: _*))
    Outputs(
      sessions = multichannel,
      pageviews = hitsPageviews(export),
      events = hitsEvents(export),
      products = hitsProducts(export),
      transactions = hitsTransactions(export),
      items = hitsItems(export))
  }
}
