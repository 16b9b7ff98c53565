package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftDatasetFactory, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

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
  * Reads that declare a schema (a manifest sidecar, the catalog) keep
  * it; [[read]] is for the ones that do not. */
object ParquetSchema {

  /** The schema `spark.read.options(options).parquet(paths: _*)` would
    * infer. With `mergeSchema` on, with no data file, or on an
    * unreadable footer it asks Spark, so Spark's own schema merge and
    * errors ("Unable to infer schema", corrupt footer) stay as they
    * are. */
  def infer(spark: SparkSession, paths: Seq[String],
            options: Map[String, String] = Map.empty): StructType = {
    val conf = spark.sessionState.conf
    def bySpark = spark.read.options(options).parquet(paths: _*).schema
    if (new ParquetOptions(options, conf).mergeSchema) return bySpark
    val (index, hadoopConf) =
      GraftDatasetFactory.parquetFileIndex(spark, paths, options)
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val chosen = summaries.iterator
      .flatMap(n => files.find(_.getPath.getName == n)).nextOption()
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    chosen.flatMap(footerSchema(_, hadoopConf, conf)) match {
      case None => bySpark
      case Some(data) => GraftDatasetFactory.fileRelationSchema(spark, data,
        index.partitionSchema)
    }
  }

  /** `spark.read.options(options).parquet(paths: _*)` with the
    * [[infer]]red schema declared, so building the frame starts no
    * Spark job. Under a declared schema Spark moves a partition column
    * that the files also store behind the data columns; the projection
    * puts it back where inference has it. */
  def read(spark: SparkSession, paths: Seq[String],
           options: Map[String, String] = Map.empty): DataFrame = {
    val schema = infer(spark, paths, options)
    val df = spark.read.options(options).schema(schema).parquet(paths: _*)
    if (df.columns.sameElements(schema.fieldNames)) df
    else df.select(schema.fieldNames.toSeq.map(n => col(s"`${n.replace("`", "``")}`")): _*)
  }

  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

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
