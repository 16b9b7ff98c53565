package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Keyed MERGE/upsert: table-level semantics and the partition-scoped
  * manifest path (only touched partitions read/rewritten). */
class UpsertSpec extends SparkTestBase {
  import spark.implicits._

  test("upsert: matched keys replaced, new keys inserted, rest carried") {
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "name", "v")
    val source = Seq((2L, "b", 99L), (4L, "d", 40L)).toDF("id", "name", "v")
    val out = Upsert.upsert(target, source, Seq("id"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "a", 10L), (2L, "b", 99L), (3L, "c", 30L),
      (4L, "d", 40L)))
  }

  test("schema-evolving merge: new source columns appear, carried rows " +
    "null-fill; dropped source columns stay (no silent narrowing)") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val source = Seq((2L, "B", 9L), (3L, "c", 7L)).toDF("id", "name", "score")
    val out = Upsert.upsertEvolve(target, source, Seq("id"))
    assert(out.columns.toSet == Set("id", "name", "score"))
    val rows = out.select("id", "name", "score")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "B", Some(9L)),
      (3L, "c", Some(7L))))
    // reverse direction: a source MISSING a target column null-fills the
    // inserted rows but never drops the column
    val narrow = Seq((4L, 5L)).toDF("id", "score")
    val out2 = Upsert.upsertEvolve(out, narrow, Seq("id"))
    assert(out2.columns.toSet == Set("id", "name", "score"))
    assert(out2.filter(col("id") === 4L).select("name")
      .as[Option[String]].head().isEmpty)
  }

  test("partition-scoped merge rewrites ONLY touched partitions; " +
    "untouched part-files are byte-identical on disk") {
    val path = Files.createTempDirectory("upsert_ps").toString + "/t"
    val t0 = Seq(
      (1L, "2024-01-01", 10L), (2L, "2024-01-01", 20L),
      (3L, "2024-01-02", 30L), (4L, "2024-01-02", 40L),
      (5L, "2024-01-03", 50L)).toDF("id", "day", "v")
    t0.write.partitionBy("day").parquet(path)
    def partFiles(day: String): Map[String, Long] = {
      val d = new java.io.File(s"$path/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before01 = partFiles("2024-01-01")
    val before03 = partFiles("2024-01-03")
    assert(before01.nonEmpty && before03.nonEmpty)
    Thread.sleep(1100) // mtime granularity guard
    // source touches day 02 (update id=3) and day 04 (insert id=6)
    val source = Seq((3L, "2024-01-02", 333L), (6L, "2024-01-04", 60L))
      .toDF("id", "day", "v")
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"), source,
      Seq("id"))
    // untouched partitions: same files, same mtimes — never rewritten
    assert(partFiles("2024-01-01") == before01)
    assert(partFiles("2024-01-03") == before03)
    // touched partition updated, new partition created
    val out = spark.read.parquet(path)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set(
      (1L, "2024-01-01", 10L), (2L, "2024-01-01", 20L),
      (3L, "2024-01-02", 333L), (4L, "2024-01-02", 40L),
      (5L, "2024-01-03", 50L), (6L, "2024-01-04", 60L)))
    // and equals the whole-table upsert semantics exactly
    val ref = Upsert.upsert(
      t0.select(col("id"), col("day"), col("v")), source, Seq("id"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == ref)
  }

  test("partition-scoped merge bootstraps an absent target from the source") {
    val path = Files.createTempDirectory("upsert_boot").toString + "/t"
    val source = Seq((1L, "2024-01-01", 1L)).toDF("id", "day", "v")
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"), source,
      Seq("id"))
    assert(spark.read.parquet(path).count() == 1)
    // second batch merges normally
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((1L, "2024-01-01", 2L)).toDF("id", "day", "v"), Seq("id"))
    val out = spark.read.parquet(path).select("id", "v")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("empty batches are no-ops: no poisoned bootstrap tree, no partition " +
    "rewrites against an existing target") {
    val path = Files.createTempDirectory("upsert_empty").toString + "/t"
    val none = Seq.empty[(Long, String, Long)].toDF("id", "day", "v")
    // empty FIRST batch must not create a schemaless zero-file tree
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"), none,
      Seq("id"))
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((1L, "2024-01-01", 1L)).toDF("id", "day", "v"), Seq("id"))
    assert(spark.read.parquet(path).count() == 1)
    // empty LATER batch: nothing touched
    val f = new java.io.File(s"$path/day=2024-01-01")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    Thread.sleep(1100)
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"), none,
      Seq("id"))
    val after = new java.io.File(s"$path/day=2024-01-01")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(x => x.getName -> x.lastModified()).toMap
    assert(after == f, "empty merge must not rewrite anything")
    assert(spark.read.parquet(path).count() == 1)
  }
}
