package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.SparkEntry

/** A fixed list of read-only registry queries over generated tables,
  * run in a seeded order each pass with `SparkEntry.clearMemos()` first.
  *
  * One query is one operation: build the frame (the registry function),
  * then consume every row and column through an order-insensitive hash
  * (row count plus the sum of `xxhash64` over each row). That hash is
  * the output check: it must equal the value recorded for the same data
  * from a commit that passes the DuckDB oracle (`expected_hashes.tsv`).
  *
  * The tables are generated from a fixed data seed, so the recorded
  * hashes hold for every run; the run's `--seed` only orders the
  * queries.
  */
final class QuerySet(spark: SparkSession, c: Conf, val workload: String,
                     queries: Seq[String], sf: Double, spanName: String => String,
                     perOperator: Boolean)
  extends Workload {
  private val dir = c.work.resolve(s"tables_sf$sf").toString
  private val rng = new java.util.SplittableRandom(c.seed)
  private val expected: Map[String, String] = QuerySet.expected(sf)
  private val observed = mutable.LinkedHashMap.empty[String, String]
  private val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def setup(): Unit = TpchGen.write(spark, dir, sf, QuerySet.DataSeed)

  override def minWarm: Int = 3

  def pass(traced: Boolean): Seq[Op] = {
    SparkEntry.clearMemos()
    Stats.shuffled(queries, rng).map { q =>
      val t0 = System.nanoTime()
      val res = try {
        Trace.span(spanName(q)) {
          val df = Trace.span("plans.build")(SparkEntry.queries(q)(spark, dir))
          Right(QuerySet.hash(df))
        }
      } catch { case NonFatal(e) => Left(s"$q failed: $e") }
      val secs = Stats.secs(t0)
      spark.catalog.clearCache()
      res.foreach(h => observed(q) = h)
      perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += secs
      val err = res match {
        case Left(e) => Some(e)
        case Right(h) if !expected.get(q).contains(h) =>
          Some(s"$q hash $h, expected ${expected.getOrElse(q, "(none recorded)")}")
        case _ => None
      }
      Op(workload, secs, err)
    }
  }

  def finalChecks(): Seq[String] = Nil

  /** The hashes seen, to record `expected_hashes.tsv` from a commit that
    * passes the oracle. */
  override def details(ops: Seq[Op]): Map[String, Any] =
    Map("sf" -> sf, "observed_hashes" -> observed.toMap,
      "query_median_s" -> perQuery.map { case (q, xs) => q -> Stats.median(xs.toSeq) }.toMap)

  def layers(warm: Seq[Seq[Span]]): Map[String, Double] = {
    val qs = warm.flatMap(_.filter(s => queries.map(spanName).contains(s.name)))
    val builds = warm.flatMap(_.filter(_.name == "plans.build")).map(s => (s.endNs - s.startNs) / 1e9)
    val common = Layers.perOp(qs) +
      ("plans.build_s" -> (if (builds.isEmpty) 0.0 else builds.sum / builds.size))
    val perOp = if (!perOperator) Map.empty[String, Double] else
      queries.flatMap { q =>
        val name = spanName(q)
        val ss = warm.flatMap(_.filter(_.name == name))
        def mean(f: Span => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
        // the whole operator: its registry function may run eager jobs
        Seq(s"$name.self_s" -> mean(s => (s.endNs - s.startNs) / 1e9),
          s"$name.shuffle_bytes" -> mean(_.deltas.getOrElse("shuffle_bytes", 0.0)),
          s"$name.spill_bytes" -> mean(_.deltas.getOrElse("spill_bytes", 0.0)),
          s"$name.rows_out" -> QuerySet.rowsOf(expected.getOrElse(q, "")))
      }.toMap
    common ++ perOp
  }
}

object QuerySet {
  /** The data seed: fixed, so the recorded result hashes stay valid. */
  val DataSeed = 42L

  /** Read-only registry queries with no staged fixture, outside the
    * `llm_ops` set, reading only the generated tables; chosen across the
    * families: TPC-H-style aggregates and joins, windows and
    * sessionization over events, text statistics and dedup, embeddings,
    * statistics operators. */
  val QueryMix: Seq[String] = Seq(
    "q02_filter_pushdown", "q04_anti_join", "q137_grouping_sets",
    "q67_tumbling_window", "q33_rolling_hash", "q180_blocklist_scan",
    "q138_length_histogram", "q26_ann_brute")

  /** The heavy operators: edit-distance pairs, PageRank, containment
    * join, char n-gram dedup, MinHash dedup, Bradley-Terry. */
  val LlmOps: Seq[String] = Seq("q96_edit_distance_pairs", "q100_pagerank",
    "q101_containment_join", "q39_dedup_char_ngram", "q20_dedup_minhash",
    "q191_bradley_terry")

  def queryMix(spark: SparkSession, c: Conf): QuerySet =
    new QuerySet(spark, c, "query", QueryMix, if (c.smoke) 0.002 else 0.1, _ => "query",
      perOperator = false)

  def llmOps(spark: SparkSession, c: Conf): QuerySet =
    new QuerySet(spark, c, "operator", LlmOps, if (c.smoke) 0.002 else LlmSf,
      q => s"llm.${q.takeWhile(_ != '_')}", perOperator = true)

  /** llm_ops scale factor (see the benchmark README for why not 0.1). */
  val LlmSf = 0.02

  /** Maps are not hashable; everything else hashes as is. */
  private def hashable(c: Column, t: org.apache.spark.sql.types.DataType): Column = t match {
    case _: MapType => to_json(c)
    case StructType(fs) if fs.exists(f => containsMap(f.dataType)) => to_json(c)
    case ArrayType(e, _) if containsMap(e) => to_json(c)
    case _ => c
  }
  private def containsMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: MapType => true
    case StructType(fs) => fs.exists(f => containsMap(f.dataType))
    case ArrayType(e, _) => containsMap(e)
    case _ => false
  }

  /** Order-insensitive result hash: `rows=<n>;hash=<sum of xxhash64>`. */
  def hash(df: DataFrame): String = {
    val cols = df.schema.fields.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
    s"rows=${r.getLong(0)};hash=${r.getDecimal(1).toPlainString}"
  }

  def rowsOf(h: String): Double =
    h.split(";").find(_.startsWith("rows=")).map(_.stripPrefix("rows=").toDouble).getOrElse(0.0)

  /** `expected_hashes.tsv` beside the benchmark: sf, query, hash. */
  def expected(sf: Double): Map[String, String] = {
    val f = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"), "expected_hashes.tsv")
    if (!Files.exists(f)) Map.empty
    else scala.io.Source.fromFile(f.toFile).getLines()
      .map(_.split("\t")).collect { case Array(s, q, h) if s.toDouble == sf => q -> h }.toMap
  }
}
