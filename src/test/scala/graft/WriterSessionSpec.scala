package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.sources.{GraftTable, Manifest}

/** Manifest writers run in the session they are called with: no
  * per-statement `newSession()`, so a repeated statement reuses the
  * classes its first run compiled, and value identity comes from the
  * writers' raw-string partition scans, not from a session with
  * partition type inference off. */
class WriterSessionSpec extends SparkTestBase {
  import spark.implicits._

  private val partCols = Seq("y", "m", "d")
  private var n = 0

  /** A `y=2019/m=09/d=…` manifest table over (id, v, y, m, d), in the
    * catalog with string partition columns and no schema sidecar. */
  private def mkTable(): (String, String) = {
    n += 1
    val root = Files.createTempDirectory("graft_writer_session").toString + "/t"
    Seq((1L, 10L, "2019", "09", "28"), (2L, 20L, "2019", "09", "28"),
      (3L, 30L, "2019", "09", "29"))
      .toDF("id", "v", "y", "m", "d").repartition(2)
      .write.partitionBy(partCols: _*).parquet(root)
    Manifest.bootstrap(spark, root)
    GraftTable.register(spark, "graft_ws", s"t$n", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v BIGINT, y STRING, m STRING, d STRING")),
      partitionCols = partCols)
    (root, s"graft_ws.t$n")
  }

  /** One DELETE, UPDATE, MERGE and OPTIMIZE on `name`, each doing real
    * work every time: the INSERT re-adds the rows they match. */
  private def cycle(name: String): Unit = Seq(
    s"INSERT INTO $name VALUES (1, 10, '2019', '09', '28'), (2, 20, '2019', '09', '28')",
    s"UPDATE $name SET v = v + 1 WHERE id = 1",
    s"""MERGE INTO $name t USING ws_src s ON t.id = s.id
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
    s"DELETE FROM $name WHERE id = 2",
    s"OPTIMIZE $name").foreach(spark.sql(_).collect())

  private def liveLeaves(root: String): Set[String] =
    Manifest.current(spark, root).get._2.map(Manifest.leafDirOf(_, partCols)).toSet

  test("a repeated DELETE, UPDATE, MERGE and OPTIMIZE compiles no new " +
    "class after a warm-up") {
    val (_, name) = mkTable()
    Seq((1L, 111L, "2019", "09", "28"), (4L, 40L, "2019", "09", "29"))
      .toDF("id", "v", "y", "m", "d").createOrReplaceTempView("ws_src")
    cycle(name)
    cycle(name)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cycle(name)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the repeated statements compiled $compiled class(es)")
  }

  test("UPDATE, DELETE, MERGE and OPTIMIZE from a session with partition " +
    "type inference on keep their leaves at m=09") {
    assert(spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled") == "true")
    val (root, name) = mkTable()
    Seq((3L, 33L, "2019", "09", "29"), (5L, 50L, "2019", "09", "28"))
      .toDF("id", "v", "y", "m", "d").createOrReplaceTempView("ws_vi_src")
    val expected = Set("y=2019/m=09/d=28", "y=2019/m=09/d=29")
    Seq(s"UPDATE $name SET v = v + 1 WHERE id = 1",
      s"DELETE FROM $name WHERE id = 2",
      s"""MERGE INTO $name t USING ws_vi_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      s"OPTIMIZE $name").foreach { sql =>
      spark.sql(sql).collect()
      assert(liveLeaves(root) == expected, s"after: $sql")
    }
    assert(!new java.io.File(root, "y=2019/m=9").exists(),
      "no m=9 directory family beside m=09")
    assert(spark.table(name).select("id", "v", "m", "d").as[(Long, Long, String, String)]
      .collect().toSet == Set((1L, 11L, "09", "28"), (3L, 33L, "09", "29"),
        (5L, 50L, "09", "28")))
  }

  test("no writer package clones a session") {
    val dirs = Seq("sources", "jobs", "operators", "plans", "streaming")
      .map(d => new java.io.File(s"src/main/scala/graft/$d"))
    assert(dirs.forall(_.isDirectory), s"run from the project root: $dirs")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = dirs.flatMap(sources)
    val forbidden = Seq(
      "newSession()" -> ("writers run in the caller's session; partition " +
        "values are declared strings"),
      "partitionOverwriteMode\", \"dynamic\"" -> ("writers publish through " +
        "the manifest commit log; on a crash, dynamic partition overwrite " +
        "can leave a mix of old and new partitions"))
    val failures = forbidden.flatMap { case (pattern, reason) =>
      val hits = files.flatMap { f =>
        Files.readAllLines(f.toPath).asScala.zipWithIndex.collect {
          case (l, i) if l.contains(pattern) => s"${f.getPath}:${i + 1}"
        }
      }
      if (hits.isEmpty) None
      else Some(s"$reason — $pattern at: ${hits.mkString(", ")}")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
