package graft

import org.apache.spark.sql.functions._
import graft.plans.SummaryRewrite

class SummaryRewriteSpec extends SparkTestBase {

  private def base = s"$sf/lineitem.parquet"
  private val qtyL = round(col("l_quantity")).cast("long")
  private val priceC = round(col("l_extendedprice") * 100).cast("long")

  private def withSummary[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sumtest").toString
    try {
      SummaryRewrite.materialize(spark, base, dir,
        Seq("l_returnflag", "l_linestatus"),
        Seq(qtyL -> "s_qty", priceC -> "s_price"))
      f(dir)
    } finally {
      SummaryRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def aggQuery = spark.read.parquet(base)
    .groupBy(col("l_returnflag"), col("l_linestatus"))
    .agg(sum(qtyL).as("sum_qty"), sum(priceC).as("sum_price"),
      count(lit(1)).as("n"))

  test("matching aggregate reads the summary and is value-identical") {
    val unrewritten = aggQuery.collect().toSet // registry still empty
    withSummary { _ =>
      val df = aggQuery
      assert(SummaryRewrite.readsOnlySummaries(df),
        s"expected summary scan, got:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().toSet == unrewritten)
    }
  }

  test("dim-only filter rides the rewrite; non-dim filter blocks it") {
    withSummary { _ =>
      val dimF = aggQuery.filter(col("l_returnflag") =!= "N")
      // filter applied BEFORE the aggregate: express via the base read
      val dimFiltered = spark.read.parquet(base)
        .filter(col("l_returnflag") =!= "N")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qtyL).as("sum_qty"), count(lit(1)).as("n"))
      assert(SummaryRewrite.readsOnlySummaries(dimFiltered))
      val nonDim = spark.read.parquet(base)
        .filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qtyL).as("sum_qty"))
      assert(!SummaryRewrite.readsOnlySummaries(nonDim))
      // and the rewritten filtered result is still exact
      SummaryRewrite.clear()
      val expect = dimFiltered.collect().toSet
      SummaryRewrite.materialize(spark, base, java.nio.file.Files
        .createTempDirectory("graft_sumtest2").toString,
        Seq("l_returnflag", "l_linestatus"),
        Seq(qtyL -> "s_qty", priceC -> "s_price"))
      assert(dimFiltered.collect().toSet == expect)
      dimF.collect() // smoke: agg-then-filter shape still executes
    }
  }

  test("unregistered measure, distinct agg, non-dim grouping, and " +
    "global aggregate are all left on the base") {
    withSummary { _ =>
      val otherMeasure = spark.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_discount")).as("x"))
      assert(!SummaryRewrite.readsOnlySummaries(otherMeasure))
      val distinctAgg = spark.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(countDistinct(col("l_orderkey")).as("x"))
      assert(!SummaryRewrite.readsOnlySummaries(distinctAgg))
      val nonDimGroup = spark.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_suppkey"))
        .agg(sum(qtyL).as("x"))
      assert(!SummaryRewrite.readsOnlySummaries(nonDimGroup))
      val global = spark.read.parquet(base).agg(count(lit(1)).as("x"))
      assert(!SummaryRewrite.readsOnlySummaries(global))
    }
  }

  test("base-table change after registration declines the rewrite " +
    "(staleness fingerprint) — fresh answers, never the stale summary") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft_sumbase").toString
    val sumDir = java.nio.file.Files.createTempDirectory("graft_sumstale").toString
    try {
      spark.read.parquet(base).limit(200)
        .write.mode("overwrite").parquet(baseDir)
      SummaryRewrite.materialize(spark, baseDir,
        sumDir, Seq("l_returnflag", "l_linestatus"),
        Seq(qtyL -> "s_qty", priceC -> "s_price"))
      def q = spark.read.parquet(baseDir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qtyL).as("sum_qty"), count(lit(1)).as("n"))
      assert(SummaryRewrite.readsOnlySummaries(q), "fresh registration rewrites")
      val before = q.collect().map(_.getLong(3)).sum // total row count n
      // append to the base: the summary is now stale
      spark.read.parquet(base).limit(50)
        .write.mode("append").parquet(baseDir)
      val after = q
      assert(!SummaryRewrite.readsOnlySummaries(after),
        s"stale summary must not answer:\n${after.queryExecution.optimizedPlan}")
      val total = after.collect().map(_.getLong(3)).sum
      assert(total == before + 50, s"fresh rows must count: $total vs $before+50")
    } finally {
      SummaryRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(baseDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sumDir))
    }
  }

  test("empty registry leaves every plan untouched") {
    SummaryRewrite.clear()
    assert(!SummaryRewrite.readsOnlySummaries(aggQuery))
    assert(aggQuery.collect().nonEmpty)
  }

  test("q177 materializes its summary under this application's own " +
    "scratch directory; a re-run overwrites it in place") {
    val own = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-${spark.sparkContext.applicationId}")
    def summaries = Option(own.listFiles()).toSeq.flatten.filter(_.getName.startsWith("summary_"))
    def parts(d: java.io.File) = d.list().filter(_.endsWith(".parquet")).toSet
    try {
      val q177 = SparkEntry.queries("q177_summary_rewrite")
      val rows = q177(spark, sf).collect().toSet
      assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("gate_rewritten")))
      assert(summaries.size == 1, s"summaries under $own: ${summaries.map(_.getName)}")
      val first = parts(summaries.head)
      assert(first.nonEmpty)
      assert(q177(spark, sf).collect().toSet == rows)
      assert(summaries.size == 1, "the re-run wrote no second summary directory")
      assert(parts(summaries.head).intersect(first).isEmpty,
        "the re-run replaced the summary's files")
    } finally SummaryRewrite.clear()
  }

  test("a constant output column rides the rewrite: the frame q177 " +
    "returns reads only the summary") {
    withSummary { _ =>
      val tagged = aggQuery.withColumn("tag", lit(true))
      assert(SummaryRewrite.readsOnlySummaries(tagged),
        s"expected summary scan, got:\n${tagged.queryExecution.optimizedPlan}")
    }
    try {
      val df = SparkEntry.queries("q177_summary_rewrite")(spark, sf)
      assert(SummaryRewrite.readsOnlySummaries(df),
        s"expected summary scan, got:\n${df.queryExecution.optimizedPlan}")
      assert(df.collect().forall(_.getAs[Boolean]("gate_rewritten")))
    } finally SummaryRewrite.clear()
  }
}
