package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Manifest, ParquetSchema, Tables}

/** Driver-side parquet schema inference: [[ParquetSchema.infer]] must
  * return exactly what `spark.read.parquet(…).schema` infers, and the
  * frames built on it must start no Spark job. */
class ParquetSchemaSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_pqschema_$tag").toString + "/t"

  /** Runs `body` and returns the number of Spark jobs it started. */
  private def countJobs(body: => Unit): Int = {
    @volatile var jobs = 0
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(800) } // listener bus is async
    finally spark.sparkContext.removeSparkListener(l)
    jobs
  }

  private def assertSameAsSpark(s: SparkSession, paths: Seq[String],
                                options: Map[String, String] = Map.empty): Unit = {
    val inferred = s.read.options(options).parquet(paths: _*)
    assert(ParquetSchema.infer(s, paths, options) == inferred.schema)
    val declared = ParquetSchema.read(s, paths, options)
    assert(declared.schema == inferred.schema)
    assert(declared.collect().toSeq.map(_.toString).sorted ==
      inferred.collect().toSeq.map(_.toString).sorted)
  }

  /** A session with partition-column type inference off (the DML and
    * compaction scans' value-identity discipline). */
  private def inferenceOff: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    s
  }

  test("every testdata table (single files from a non-Spark writer): " +
    "the schema Spark infers") {
    Tables.all.foreach { name =>
      withClue(name) { assertSameAsSpark(spark, Seq(s"$sf/$name.parquet")) }
    }
  }

  test("a TIMESTAMP(NANOS) column reads as long under nanosAsLong") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val file = tmp("nanos") + "/events.parquet"
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 ts (TIMESTAMP(NANOS,false)); optional binary name (STRING); }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)).withConf(conf).withType(schema).build()
    try Seq(1700000000123456789L, 1700000001987654321L).zipWithIndex.foreach {
      case (ts, i) => w.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", ts).append("name", s"e$i"))
    } finally w.close()
    assertSameAsSpark(spark, Seq(file))
    assert(ParquetSchema.infer(spark, Seq(file))("ts").dataType.typeName == "long")
  }

  test("a Spark-written directory with _SUCCESS and .crc files") {
    val root = tmp("spark")
    spark.range(50).select(col("id"), (col("id") * 2).cast("int").as("x"),
        array(col("id")).as("xs"))
      .repartition(3).write.parquet(root)
    val names = new java.io.File(root).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assertSameAsSpark(spark, Seq(root))
  }

  test("a partitioned tree, with partition type inference on and off") {
    val root = tmp("parts")
    spark.range(40).select(col("id"),
        (col("id") % 2 + 2023).cast("string").as("y"),
        lpad((col("id") % 3 + 8).cast("string"), 2, "0").as("m"))
      .write.partitionBy("y", "m").parquet(root)
    assertSameAsSpark(spark, Seq(root))
    assertSameAsSpark(inferenceOff, Seq(root))
    assert(ParquetSchema.infer(inferenceOff, Seq(root))("m").dataType.typeName ==
      "string", "m=09 must stay the string 09 with inference off")
  }

  test("a partition column also stored in the files keeps its place") {
    val root = tmp("overlap")
    spark.range(6).select(col("id"), lit(7).as("y"), col("id").as("z"))
      .write.parquet(s"$root/y=7")
    assertSameAsSpark(spark, Seq(root))
    assert(ParquetSchema.read(spark, root).columns.toSeq == Seq("id", "y", "z"))
  }

  test("a manifest file list under basePath") {
    val root = tmp("manifest")
    spark.range(30).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(root)
    Manifest.bootstrap(spark, root)
    val files = Manifest.current(spark, root).get._2
      .map(f => new org.apache.hadoop.fs.Path(root, f).toString)
    assert(files.length > 1)
    assertSameAsSpark(spark, files, Map("basePath" -> root))
    assertSameAsSpark(inferenceOff, files.take(1), Map("basePath" -> root))
  }

  test("Tables.lineitem and Manifest.read without a schema sidecar " +
    "start no Spark job") {
    val root = tmp("nosidecar")
    spark.range(20).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(root)
    Manifest.bootstrap(spark, root)
    assert(Manifest.schemaAt(spark, root, 1L).isEmpty)
    var frames = Seq.empty[DataFrame]
    val jobs = countJobs {
      frames = Seq(Tables.lineitem(spark, sf), Manifest.read(spark, root))
    }
    assert(jobs == 0, s"building the frames ran $jobs Spark job(s)")
    assert(frames(0).schema == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    assert(frames(1).count() == 20L)
  }

  test("an empty directory fails with Spark's own exception") {
    val root = tmp("empty")
    new java.io.File(root).mkdirs()
    val bySpark = intercept[Exception](spark.read.parquet(root).schema)
    val ours = intercept[Exception](ParquetSchema.infer(spark, Seq(root)))
    assert(ours.getClass == bySpark.getClass)
    assert(ours.getMessage == bySpark.getMessage)
    val missing = intercept[Exception](ParquetSchema.infer(spark, Seq(root + "_absent")))
    assert(missing.getClass ==
      intercept[Exception](spark.read.parquet(root + "_absent")).getClass)
  }
}
