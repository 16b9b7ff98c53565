package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.GraftDatasetFactory.{column => toCol, expression => toExpr}
import org.apache.spark.sql.functions._

/** Per-file Bloom index for EQUALITY point lookups — the file-pruning
  * complement of [[SkippingIndex]] (whose min/max stats answer RANGE
  * predicates but are useless for a high-cardinality id: every file's
  * [min, max] spans the id space, so nothing prunes). The canonical
  * serving case is q218's visitor-journey lookup: a 100 TB sessions
  * tree holds any one visitor's rows in a handful of files, and a point
  * query should open exactly those — this is Parquet's own bloom-filter
  * column-index idea (public format), materialized engine-side as a
  * queryable table so pruning works on any layout and composes with the
  * catalog/manifest reads.
  *
  * Index = one row per data file: `(file, bloom)` where `bloom` is
  * Spark's own `BloomFilter` sketch (spark-sketch public API; the same
  * one runtime row-level filtering ships) over `xxhash64(column)`.
  * Build is one scan with a per-file map-combinable aggregate; lookup
  * is a filter of the O(files) index table via the native
  * `BloomFilterMightContain` predicate — no data file is opened to
  * decide, and false positives only cost an extra file read, never a
  * wrong answer (the row filter re-applies after the pruned scan,
  * exactly the [[SkippingIndex]] necessary-not-sufficient discipline).
  */
object BloomFileIndex {

  /** ONE path normalization for every comparison in this file: strip
    * the scheme AND authority, keep the absolute path. File paths
    * render differently per producer — `file:///x` from
    * `input_file_name`, `file:/x` from Hadoop `Path.toString`, bare
    * `/x` from a manifest, `hdfs://nn:8020/x` with an authority — and
    * round-10 used TWO normalizations (driver `Path.toUri.getPath`,
    * SQL regexp_replace of the scheme prefix only) that agree on
    * local paths but DISAGREE on authority-bearing URIs
    * (`hdfs://nn/x` → `/x` vs `/nn/x`), which would make refresh()'s
    * kept-semi-join silently match nothing on HDFS/S3. Driver side
    * calls this function; the SQL side applies [[normExpr]], and
    * [[BloomFileIndexSpec]] pins the two to byte-parity over every
    * rendering above. */
  private[graft] def norm(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** The SQL rendering of [[norm]] — the SAME regex, applied to a
    * column, so both sides of refresh()'s semi-join normalize
    * identically by construction. */
  private[graft] def normExpr(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")

  /** Build the index for `tablePath` over `column` at `indexPath`: one
    * bloom per physical file. `expectedPerFile` sizes each bloom (at
    * the default 1e5 items / 1e6 bits ≈ 120 KB and <1% fpp — index
    * bytes are O(files), independent of table bytes). */
  def build(spark: SparkSession, tablePath: String, column: String,
            indexPath: String, expectedPerFile: Long = 100000L,
            numBits: Long = 1000000L): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = toCol(new BloomFilterAggregate(
      toExpr(xxhash64(col(column))), Literal(expectedPerFile), Literal(numBits))
      .toAggregateExpression())
    ParquetSchema.read(spark, tablePath)
      .select(input_file_name().as("file"), col(column))
      .groupBy("file")
      .agg(agg.as("bloom"), count(lit(1)).as("n_rows"))
      .write.mode("overwrite").parquet(indexPath)
  }

  /** INCREMENTAL index maintenance tied to the [[Manifest]] commit log —
    * the reason blooms are per-FILE: data files are immutable, so a
    * commit invalidates nothing it carried over. Sync the index to the
    * current live set: carried files keep their rows (never
    * recomputed), files the latest commits added get blooms from ONE
    * scan of exactly those files, vacuumed files drop out. Returns
    * (kept, added, removed). The index is a derived artifact
    * (rebuildable from data), so its own write is a plain overwrite —
    * kept rows are materialized first since they read the path being
    * replaced. */
  def refresh(spark: SparkSession, tableRoot: String, column: String,
              indexPath: String, expectedPerFile: Long = 100000L,
              numBits: Long = 1000000L): (Long, Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import spark.implicits._
    val rootP = new org.apache.hadoop.fs.Path(tableRoot)
    val live = Manifest.current(spark, tableRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"refresh needs a manifest under $tableRoot — bootstrap() it"))._2
      .map(rel => new org.apache.hadoop.fs.Path(rootP, rel).toString)
    val liveNorm = live.map(norm).toSet
    // driver holds PATHS only (O(files) strings — the manifest is
    // already driver-resident); the blooms themselves never leave the
    // executors: kept rows are a broadcast semi-join of the old index
    // against the live path list
    val oldIdx = ParquetSchema.read(spark, indexPath)
    val oldNorms = oldIdx.select("file").collect()
      .map(r => norm(r.getString(0))).toSet
    val keptCount = oldNorms.count(liveNorm)
    val toAdd = live.filter(p => !oldNorms(norm(p)))
    val kept = oldIdx.join(
      broadcast(liveNorm.toSeq.toDF("_lf")),
      normExpr(col("file")) === col("_lf"), "left_semi")
    val agg = toCol(new BloomFilterAggregate(
      toExpr(xxhash64(col(column))), Literal(expectedPerFile), Literal(numBits))
      .toAggregateExpression())
    val added =
      if (toAdd.isEmpty) oldIdx.limit(0)
      else ParquetSchema.read(spark, toAdd, Map("basePath" -> rootP.toString))
        .select(input_file_name().as("file"), col(column))
        .groupBy("file")
        .agg(agg.as("bloom"), count(lit(1)).as("n_rows"))
    // Cross-check the SQL semi-join against the driver's own set
    // arithmetic BEFORE overwriting the index: if the two ever drift
    // (the round-10 authority bug's failure mode), fail loudly instead
    // of publishing an index that silently prunes everything. O(files)
    // rows — the count is metadata-cheap.
    val keptWritten = kept.count()
    require(keptWritten == keptCount,
      s"bloom refresh normalization drift: semi-join kept $keptWritten " +
        s"rows but the live set retains $keptCount — refusing to " +
        s"overwrite $indexPath")
    kept.unionByName(added)
      .localCheckpoint(true) // kept rows read the path we now overwrite
      .write.mode("overwrite").parquet(indexPath)
    (keptCount.toLong, toAdd.size.toLong,
      (oldNorms.size - keptCount).toLong)
  }

  /** Files whose bloom MIGHT contain `value`, plus the total file
    * count: `(candidate files, total)`. One filter over the O(files)
    * index table; the driver holds file PATHS only, never data. */
  def prunedPaths(spark: SparkSession, indexPath: String,
                  value: Column): (Seq[String], Long) = {
    val idx = ParquetSchema.read(spark, indexPath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = idx.count()
      // graft's bloom_hit, not Spark's might_contain: the latter demands
      // a CONSTANT bloom (runtime-filter plumbing) and cannot probe a
      // bloom COLUMN; bloom_hit evaluates per index row on executors
      val hit = call_function("bloom_hit", col("bloom"), xxhash64(value))
      val files = idx.where(hit).select("file")
        .collect().map(_.getString(0)).toSeq
      (files, total)
    } finally idx.unpersist()
  }

  /** Read exactly `files` of the table at `tablePath`, partition
    * columns intact (`basePath`). Callers re-apply the row predicate:
    * bloom membership is necessary, not sufficient. */
  def scan(spark: SparkSession, tablePath: String,
           files: Seq[String]): DataFrame =
    ParquetSchema.read(spark, files, Map("basePath" -> tablePath))
}
