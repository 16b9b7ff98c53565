package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level min/max data-skipping index — the pruning layer every
  * table format (Delta/Iceberg/Hudi) keeps next to the data: one
  * bounded stats row per (file, indexed column), consulted BEFORE the
  * scan so a selective predicate reads only the files whose value
  * range can match. Partition pruning skips directories the partition
  * scheme anticipated; the skipping index prunes WITHIN an
  * unpartitioned layout, and pays off exactly when the data is
  * clustered on the filter column (the q95 Z-order/layout story —
  * clustering and skipping are two halves of one feature).
  *
  * Scale shape: the build is ONE pass over the table, map-combinable,
  * grouped by `_metadata.file_path` — the shuffle carries O(files)
  * rows, never the corpus — and the index itself is a tiny parquet
  * table read driver-side at plan time (bounded by file count, the
  * documented Compaction-style listing contract). Pruning is sound by
  * interval logic alone: a file is kept iff [min, max] intersects
  * [lo, hi]; all-null files carry null min/max and are dropped, which
  * is exact because a null can never satisfy a range predicate. The
  * caller re-applies the row-level filter after the pruned read —
  * file granularity is coarse by design.
  */
object SkippingIndex {

  /** One stats row per file: `file, n_rows`, and per indexed column
    * `min_<c>, max_<c>, nnull_<c>`. Overwrites `indexPath`. */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String],
            indexPath: String): Unit = {
    require(cols.nonEmpty, "skipping index needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nnull_$c")))
    ParquetSchema.read(spark, tablePath)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
      .coalesce(1) // O(files) rows — one footer beats many
      .write.mode("overwrite").parquet(indexPath)
  }

  /** Incremental refresh: stat ONLY the files the index has not seen
    * (the streaming-ingest case — a day's append adds a handful of
    * files to a layout with thousands) and union them with the
    * existing rows. The scan cost is O(new files), not O(table); rows
    * for already-indexed files are carried over verbatim, never
    * recomputed. Files deleted from the layout (compaction) drop out
    * of the index. Falls back to a full [[build]] when no index
    * exists. */
  def refresh(spark: SparkSession, tablePath: String, cols: Seq[String],
              indexPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val idxDir = new Path(indexPath)
    val fs = idxDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(idxDir)) return build(spark, tablePath, cols, indexPath)
    val table = ParquetSchema.read(spark, tablePath)
    val live = table.inputFiles.toSet
    val existing = ParquetSchema.read(spark, indexPath)
      .filter(col("file").isin(live.toSeq: _*))
      .localCheckpoint(true) // sever lineage: the overwrite below would
                             // otherwise read the dir it is replacing
    val known = existing.select("file").collect().map(_.getString(0)).toSet
    val fresh = live.diff(known).toSeq
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nnull_$c")))
    val freshStats =
      if (fresh.isEmpty) existing.limit(0)
      else ParquetSchema.read(spark, fresh)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
    existing.unionByName(freshStats).coalesce(1)
      .write.mode("overwrite").parquet(indexPath)
  }

  /** Build the index FROM THE COMMIT LOG — zero data-file IO (round-10
    * verdict #4): [[Manifest.writeColStats]] already keeps per-file
    * min/max/nnull in the `colstats-<v>` sidecar with carry-forward
    * across commits, so deriving the skipping index is a driver-side
    * read of O(files × cols) text lines, never a table scan. The
    * emitted parquet is schema-identical to [[build]]'s (file, n_rows,
    * min_c/max_c/nnull_c per column), so [[prunedPaths]]/[[scan]] work
    * unchanged, and the 100 TB maintenance story becomes: commit →
    * writeColStats (stats ONE batch of new files) → fromLog (no IO). */
  def fromLog(spark: SparkSession, root: String, cols: Seq[String],
              indexPath: String): Unit = {
    require(cols.nonEmpty, "skipping index needs at least one column")
    val (v, files) = Manifest.current(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no committed manifest under $root — bootstrap() it first"))
    val stats = Manifest.readColStats(spark, root, v)
    cols.foreach { c =>
      val miss = files.filterNot(f => stats.contains((f, c)))
      require(miss.isEmpty,
        s"colstats sidecar v$v lacks column $c for ${miss.take(3)}… — " +
          s"re-run Manifest.writeColStats(root, $v, Seq(${cols.mkString(",")}))")
    }
    val rootP = new org.apache.hadoop.fs.Path(root)
    // schema mirrors build(): Spark's own types, reconstructed from the
    // sidecar's recorded catalogString via a literal-typed projection
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def dt(s: String): DataType = s match {
      case "bigint" => LongType
      case "int" => IntegerType
      case "smallint" => ShortType
      case "tinyint" => ByteType
      case "double" => DoubleType
      case "float" => FloatType
      case "timestamp" => TimestampType
      case "timestamp_ntz" => TimestampNTZType
      case "date" => DateType
      case "string" => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported colstats dtype for index rebuild: $other")
    }
    val fields = StructField("file", StringType) ::
      StructField("n_rows", LongType) ::
      cols.toList.flatMap { c =>
        // a 0-row file's sidecar line may carry dtype "unknown" (all-null
        // stats); take the first file with a real dtype, and when EVERY
        // file is empty fall back to string — the min/max cells are all
        // null, so the column type only shapes an all-null schema
        val t = files.iterator.map(f => stats((f, c))._1)
          .find(_ != "unknown").map(dt).getOrElse(StringType)
        Seq(StructField(s"min_$c", t), StructField(s"max_$c", t),
          StructField(s"nnull_$c", LongType))
      }
    def narrow(t: String, v: Any): Any = (t, v) match {
      case (_, null) => null
      case ("int", x: Long) => x.toInt
      case ("smallint", x: Long) => x.toShort
      case ("tinyint", x: Long) => x.toByte
      case ("float", x: Double) => x.toFloat
      case _ => v
    }
    val rows = files.map { f =>
      val abs = new org.apache.hadoop.fs.Path(rootP, f).toString
      val nRows = stats((f, cols.head))._5
      val cells = cols.flatMap { c =>
        val (t, mn, mx, nn, _, _) = stats((f, c))
        Seq(narrow(t, mn), narrow(t, mx), nn)
      }
      Row.fromSeq(abs +: nRows +: cells)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StructType(fields))
      .write.mode("overwrite").parquet(indexPath)
  }

  /** Files whose `[min_c, max_c]` intersects `[lo, hi]` (either bound
    * may be null = unbounded). Driver-side and bounded by file count.
    * Returns (kept paths, total file count) so callers can gate on
    * pruning actually happening. */
  def prunedPaths(spark: SparkSession, indexPath: String, c: String,
                  lo: Any, hi: Any): (Seq[String], Long) = {
    val idx = ParquetSchema.read(spark, indexPath)
    val total = idx.count()
    val loK = if (lo == null) lit(true) else col(s"max_$c") >= lit(lo)
    val hiK = if (hi == null) lit(true) else col(s"min_$c") <= lit(hi)
    // null min/max = all-null file: range predicates can't match it
    val kept = idx.filter(col(s"min_$c").isNotNull && loK && hiK)
      .select(col("file")).collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** The pruned scan: read only the surviving files. The row-level
    * predicate must be RE-APPLIED by the caller (file stats are
    * necessary, not sufficient). Empty survivor list → empty frame
    * with the table's schema (read the path, filter false — never a
    * schemaless emptyDataFrame). */
  def scan(spark: SparkSession, tablePath: String,
           paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      ParquetSchema.read(spark, tablePath).filter(lit(false))
    else ParquetSchema.read(spark, paths)
}
