package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ten star-schema tables the query registry reads (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings), at any scale factor, as plain parquet.
  *
  * Every value is a pure function of (seed, column, row id) through
  * `xxhash64`, so the files are identical whatever the partitioning and
  * whichever process writes them. Row counts, key ranges, categorical
  * domains and value ranges follow the shape of the data the registry's
  * oracle checks were written against: TPC-H-style keys with uniform
  * foreign keys, five order priorities, three return flags, a 30-word
  * vocabulary with planted near-duplicate and exact-duplicate documents,
  * and unit-length 64-d embeddings around ten labelled centres. Dates and
  * timestamps are written without a time zone, as the registry expects.
  */
object TpchGen {

  /** Uniform double in [0, 1) for row `id`, column `tag`. */
  private def u(seed: Long, tag: String, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(1L << 52)).cast("double") / (1L << 52).toDouble

  /** Uniform long in [0, n). */
  private def ui(seed: Long, tag: String, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(n))

  private def pick(seed: Long, tag: String, id: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (ui(seed, tag, id, vals.size.toLong) + 1).cast("int"))

  private def money(x: Column): Column = round(x, 2)

  private def day(base: String, offset: Column): Column =
    date_add(lit(base).cast("date"), offset.cast("int")).cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("a", "the", "data", "table", "row", "column", "key",
    "value", "join", "group", "sort", "scan", "filter", "merge", "hash", "window",
    "stream", "batch", "query", "spark", "order", "customer", "part", "line",
    "vector", "agg", "big", "small", "fast", "slow")

  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    def rows(base: Long) = math.max(1L, math.round(base * sf))
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrd = rows(1500000); val nLine = rows(6000000); val nEv = rows(1000000)
    val nDoc = rows(50000); val nEmb = rows(20000)
    val nUsers = math.max(10L, rows(15000))
    val id = col("id")

    val region = spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"),
      (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(seed, "c_nat", id, 25).cast("int").as("c_nationkey"),
      money(u(seed, "c_bal", id) * 10999.99 - 999.99).as("c_acctbal"),
      pick(seed, "c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(seed, "s_nat", id, 25).cast("int").as("s_nationkey"),
      money(u(seed, "s_bal", id) * 10999.99 - 999.99).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, "p_adj", id, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(seed, "p_noun", id, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
      ).as("p_name"),
      concat(lit("Brand#"), (ui(seed, "p_brand", id, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, "p_type", id, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (ui(seed, "p_size", id, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + ui(seed, "p_price", id, 1000).cast("double") / 10).as("p_retailprice"))
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      ui(seed, "o_cust", id, nCust).as("o_custkey"),
      pick(seed, "o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(u(seed, "o_price", id) * 499000.0 + 1000.0).as("o_totalprice"),
      day("1995-01-01", ui(seed, "o_date", id, 2404)).as("o_orderdate"),
      pick(seed, "o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = spark.range(nLine).select(
      ui(seed, "l_ord", id, nOrd).as("l_orderkey"),
      ui(seed, "l_part", id, nPart).as("l_partkey"),
      ui(seed, "l_supp", id, nSupp).as("l_suppkey"),
      (ui(seed, "l_line", id, 7) + 1).cast("int").as("l_linenumber"),
      (ui(seed, "l_qty", id, 50) + 1).cast("double").as("l_quantity"),
      money(u(seed, "l_ext", id) * 104099.23 + 900.68).as("l_extendedprice"),
      (ui(seed, "l_disc", id, 11).cast("double") / 100).as("l_discount"),
      (ui(seed, "l_tax", id, 9).cast("double") / 100).as("l_tax"),
      pick(seed, "l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, "l_ls", id, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", ui(seed, "l_ship", id, 2498)).as("l_shipdate"))
    val events = spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + ui(seed, "e_ts", id, 30L * 86400L * 1000000L))
        .cast("timestamp_ntz").as("ts"),
      ui(seed, "e_user", id, nUsers).as("user_id"),
      pick(seed, "e_type", id, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(-log(lit(1.0) - u(seed, "e_val", id)) * 50.0).as("value"),
      format_string("{\"k\": %d}", ui(seed, "e_k", id, 100)).as("props"))

    // documents: a word list per "text seed"; 5% of documents are a
    // copy of another document's text plus the word "dup" (near
    // duplicates) and a few are verbatim copies (exact duplicates)
    val vocab = array(Vocab.map(lit): _*)
    def words(b: Column): Column = array_join(transform(
      sequence(lit(1), (pmod(xxhash64(lit(seed), lit("d_len"), b), lit(91L)) + 10).cast("int")),
      j => element_at(vocab, (pmod(xxhash64(lit(seed), lit("d_w"), b, j), lit(30L)) + 1).cast("int"))), " ")
    val dupKind = ui(seed, "d_dup", id, 1000)
    val other = ui(seed, "d_src", id, nDoc)
    val documents = spark.range(nDoc).select(id.as("doc_id"),
      when(dupKind < 50, concat(words(other), lit(" dup")))
        .when(dupKind < 52, words(other))
        .otherwise(words(id)).as("text"),
      when(u(seed, "d_lang", id) < 0.41, "en")
        .otherwise(pick(seed, "d_lang2", id, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    // embeddings: ten random centres, each vector a noisy copy of its
    // label's centre, normalized to unit length (norm computed once per
    // row from the materialized raw array)
    val dims = 64
    def comp(tag: String, key: Column, j: Int): Column = u(seed, s"$tag$j", key) - 0.5
    val label = ui(seed, "v_label", id, 10)
    val embeddings = spark.range(nEmb)
      .select(id.as("vec_id"), label.cast("int").as("label"),
        array((0 until dims).map(j => comp("v_c", label, j) + comp("v_n", id, j) * 0.6): _*).as("raw"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"), transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes every table as a `<dir>/<name>.parquet` directory, one file
    * per range partition; the ten writes run concurrently. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = tables(spark, sf, seed).map { case (name, df) =>
        Future(df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      }
      writes.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  /** `TpchGen <dir> <sf> [seed]`: writes the tables outside a run, e.g.
    * to check the recorded query hashes against the DuckDB oracle. */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    write(spark, args(0), args(1).toDouble, args.lift(2).map(_.toLong).getOrElse(QuerySet.DataSeed))
    spark.stop()
  }
}
