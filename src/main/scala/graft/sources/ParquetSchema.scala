package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Parquet schema inference on the driver.
  *
  * `spark.read.parquet(paths)` with no declared schema infers one with
  * a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`) that reads a
  * single footer when `mergeSchema` is off — one job and 75-100 ms
  * per read, on every table load and every manifest scan without a
  * schema sidecar. [[infer]] returns the same schema from the same
  * footer without starting a job: the same listing (an
  * `InMemoryFileIndex` over the same paths and options), the same file
  * choice (`_common_metadata`, else `_metadata`, else the first data
  * file by path) and the same conversion
  * (`ParquetFileFormat.readSchemaFromFooter` with the session's
  * `ParquetToSparkSchemaConverter`, so `nanosAsLong`, TIMESTAMP_NTZ
  * inference and the Spark row-metadata schema behave as before), then
  * the partition columns the listing inferred from the paths.
  *
  * [[read]] builds Spark's relation over that same listing.
  *
  * Reads that declare a schema (a manifest sidecar, the catalog) keep
  * it; [[read]] is for the ones that do not. Writers scan through
  * [[readRaw]], which reads partition values as the directory strings
  * in any session. */
object ParquetSchema {

  /** The schema `spark.read.options(options).parquet(paths: _*)` would
    * infer ([[read]]'s). With `mergeSchema` on, with no data file, or
    * on an unreadable footer it asks Spark, so Spark's own schema merge
    * and errors ("Unable to infer schema", corrupt footer) stay as they
    * are. */
  def infer(spark: SparkSession, paths: Seq[String],
            options: Map[String, String] = Map.empty): StructType =
    read(spark, paths, options).schema

  /** `spark.read.options(options).parquet(paths: _*)` as Spark would
    * build it — the same relation over the same listing — with the
    * schema from one footer on the driver, so building the frame starts
    * no Spark job and lists the paths once. */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame =
    resolve(spark, paths, options, None).fold(
      spark.read.options(options).parquet(paths: _*)) { case (index, data) =>
      GraftDatasetFactory.parquetRelation(spark, index, data, options)
    }

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** The scan every writer reads its rows through: [[read]] with the
    * partition columns `partCols` declared STRING. A declared partition
    * type is cast from the raw, unescaped directory value and never
    * inferred (SPARK-26188), so whatever the session's
    * `partitionColumnTypeInference` says, `m=09` reads as "09" and a
    * rewrite puts the row back under `m=09` — never under a new `m=9`
    * directory family beside the old one. `schema`, when given (a
    * manifest's schema sidecar, holding the partition columns), is
    * declared with those columns as strings; otherwise one footer gives
    * the data columns, as in [[read]]. */
  def readRaw(spark: SparkSession, paths: Seq[String], partCols: Seq[String],
              options: Map[String, String] = Map.empty,
              schema: Option[StructType] = None): DataFrame = schema match {
    case Some(declared) =>
      val isPart = (n: String) =>
        partCols.exists(spark.sessionState.conf.resolver(_, n))
      spark.read.options(options).schema(StructType(declared.map(f =>
        if (isPart(f.name)) f.copy(dataType = StringType) else f)))
        .parquet(paths: _*)
    case None => resolve(spark, paths, options, Option.when(partCols.nonEmpty)(
        StructType(partCols.map(StructField(_, StringType))))).fold(
      // Spark's own inference and errors, then declared
      readRaw(spark, paths, partCols, options,
        Some(spark.read.options(options).parquet(paths: _*).schema))) {
      case (index, data) =>
        GraftDatasetFactory.parquetRelation(spark, index, data, options)
    }
  }

  /** The listing `spark.read` builds (an `InMemoryFileIndex` over the
    * same paths and options, `partitionTypes` declared) and the data
    * schema of its chosen footer: `_common_metadata`, else `_metadata`,
    * else the first data file by path, as Spark picks it. None when
    * Spark must read: `mergeSchema` on, a streaming file sink's output
    * (Spark reads its metadata log, not a listing), no data file, an
    * unreadable footer. */
  private def resolve(spark: SparkSession, paths: Seq[String],
                      options: Map[String, String],
                      partitionTypes: Option[StructType])
      : Option[(InMemoryFileIndex, StructType)] = {
    val conf = spark.sessionState.conf
    if (new ParquetOptions(options, conf).mergeSchema) return None
    // one Hadoop conf for the sink check, the listing and the footer
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    if (paths.size == 1 && FileStreamSink.hasMetadata(paths, hadoopConf, conf))
      return None
    val index = GraftDatasetFactory.parquetFileIndex(spark, paths, options,
      partitionTypes, hadoopConf)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val chosen = summaries.iterator
      .flatMap(n => files.find(_.getPath.getName == n)).nextOption()
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    chosen.flatMap(footerSchema(_, hadoopConf, conf)).map(index -> _)
  }

  private def footerSchema(f: FileStatus,
                           hadoopConf: org.apache.hadoop.conf.Configuration,
                           conf: org.apache.spark.sql.internal.SQLConf)
      : Option[StructType] =
    try {
      // schema only: skipping the row groups' metadata cuts the footer
      // parse of sf0.1 lineitem from ~10 ms to under 1 ms
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf),
        HadoopReadOptions.builder(hadoopConf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
      val meta = try reader.getFooter finally reader.close()
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
        new ParquetToSparkSchemaConverter(conf)))
    } catch { case _: java.io.IOException | _: RuntimeException => None }
}
