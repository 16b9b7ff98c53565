package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` classic Dataset factory so graft's
  * custom logical operators (e.g. [[graft.plans.GreedyPackPlan]]) can be
  * wrapped back into a DataFrame — the standard pattern Spark-extension
  * libraries use for exactly this (a one-call accessor object declared
  * inside the `org.apache.spark.sql` package; no Spark internals are
  * modified). */
object GraftDatasetFactory {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Expression bridges (`private[sql]` in classic) — lets
    * graft compose Spark's own internal-but-public expression classes
    * (e.g. BloomFilterAggregate, the sketch the runtime row-filter
    * ships) into DataFrame code without reimplementing them. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** The listing `spark.read.options(options).parquet(paths: _*)`
    * builds before it infers a schema (`DataSource.resolveRelation`):
    * the same glob and existence checks (`private[sql]`) under
    * `hadoopConf` (the session's, with `options`), then an
    * `InMemoryFileIndex` over the result. `partitionTypes` declares
    * partition column types the way a `.schema(…)` read does: a
    * declared column is cast from its raw directory value, never
    * inferred. */
  def parquetFileIndex(spark: SparkSession, paths: Seq[String],
                       options: Map[String, String],
                       partitionTypes: Option[StructType],
                       hadoopConf: Configuration): InMemoryFileIndex = {
    val globbed = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = CaseInsensitiveMap(options)
        .get(DataSource.GLOB_PATHS_KEY).forall(_ == "true"))
    new InMemoryFileIndex(spark, globbed, options, partitionTypes,
      FileStatusCache.getOrCreate(spark))
  }

  /** One frame whose partitions are `frames`' partitions, in order: a
    * job over it runs each frame's partitions as its own tasks — unlike
    * `union`, which merges single-partition children into ONE partition
    * (`spark.sql.unionOutputPartitioning`, on by default). Each frame is
    * planned on its own and read through one RDD scan; `frames` share
    * one schema. */
  def concat(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      spark.sparkContext.union(frames.map(_.queryExecution.toRdd)),
      frames.head.schema.asNullable)

  /** The frame `spark.read.options(options).parquet(…)` builds over an
    * already listed `index` (`DataSource.resolveRelation`'s relation:
    * the index's partition schema, `dataSchema` made nullable), so the
    * paths are not globbed, checked and listed a second time. */
  def parquetRelation(spark: SparkSession, index: InMemoryFileIndex,
                      dataSchema: StructType,
                      options: Map[String, String]): DataFrame =
    ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      index.partitionSchema, dataSchema.asNullable, None,
      new ParquetFileFormat, CaseInsensitiveMap(options))(spark)))
}
