package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables
  * (`/root/testdata/sf{N}/{name}.parquet`, see TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst gets full predicate
  * pushdown / column pruning on the scan; the schema is read from the
  * file's footer on the driver ([[ParquetSchema]]), so building a frame
  * starts no Spark job. The only normalization applied is
  * the `events.ts` nanosecond column: the parquet type is TIMESTAMP(NANOS)
  * which Spark reads as Long (see [[graft.GraftSession]]); we truncate to
  * microseconds, which is exactly what DuckDB does when it reads the same
  * file — so oracle comparisons line up.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSchema.read(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Events with `ts` normalized from Long-nanos to TimestampType (micros).
    * `ts div 1000` is integral division — going through Double would lose
    * precision at 1.7e18 nanos. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // Naive parquet timestamp (timestamp[us] with no timezone) reads
      // as TIMESTAMP_NTZ, which unix_millis & friends reject. The
      // session timezone is pinned to UTC everywhere (GraftSession /
      // Verify / Bench), so the LTZ cast maps wall time to the same
      // instant DuckDB's naive read produces — value-identical oracles.
      case "timestamp_ntz" => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already TIMESTAMP (ltz)
    }
  }
}
