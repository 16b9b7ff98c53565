package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftTable, Manifest}

/** Deletion vectors are applied INSIDE the scan as cached per-file
  * row-index bitmaps: no join and no artifact scan in a read plan, one
  * load per artifact per JVM, and one path normalization whatever the
  * root's spelling. */
class DeletionVectorsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft_dvbits").toString + "/t"
    Seq((1L, "d1"), (2L, "d1"), (3L, "d1"), (4L, "d2"), (5L, "d2"))
      .toDF("id", "day").repartition(2)
      .write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    path
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = SparkWatch.during(spark)(body).jobs

  test("a snapshot read of a DV'd version has no join and no " +
    "deletion-vector scan in its executed plan") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 2L)
    val tag = Integer.toHexString(path.hashCode)
    GraftTable.register(spark, "graft_test", s"dvbits_$tag", path)
    val reads = Seq(Manifest.read(spark, path),
      spark.table(s"graft_test.dvbits_$tag"))
    reads.foreach { df =>
      assert(ids(df) == Set(1L, 3L, 4L, 5L))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains(Manifest.DvDir),
        s"DVs must apply inside the scan:\n$plan")
      assert(plan.contains("graft_dv_filter"), plan)
    }
  }

  test("a second read of the same version starts no Spark job to " +
    "load deletion vectors") {
    val path = freshTable()
    val tag = Integer.toHexString(path.hashCode)
    GraftTable.register(spark, "graft_test", s"dvbits2_$tag", path)
    Manifest.deleteWhere(spark, path, col("id") === 4L)
    def plan(): Unit =
      spark.table(s"graft_test.dvbits2_$tag").queryExecution.executedPlan
    // the first plan loads the fresh artifact (the measurement sees it)
    assert(jobsDuring(plan()) >= 1)
    assert(jobsDuring(plan()) == 0, "DV bitmaps were loaded twice")
    assert(ids(spark.table(s"graft_test.dvbits2_$tag")) ==
      Set(1L, 2L, 3L, 5L))
  }

  test("the same rows hide whether the root is spelled file:/…, " +
    "with a trailing slash, or bare") {
    val path = freshTable()
    val spellings = Seq(s"file:$path", s"$path/", path)
    // one delete through each spelling: every reader must see all three
    val v = spellings.zip(Seq(1L, 3L, 5L)).map { case (root, id) =>
      val (v, n) = Manifest.deleteWhere(spark, root, col("id") === id)
      assert(n == 1L, s"delete of $id through $root")
      v
    }.last
    Manifest.writeStats(spark, path, v)
    spellings.foreach { root =>
      assert(ids(Manifest.read(spark, root)) == Set(2L, 4L), root)
      assert(Manifest.countRows(spark, root) == 2L, root)
    }
    // DML scans apply the same filter: a re-delete through another
    // spelling matches nothing
    assert(Manifest.deleteWhere(spark, s"file:$path",
      col("id") === 1L)._2 == 0L)
    assert(Manifest.updateWhere(spark, s"$path/", col("id") === 2L,
      Map("id" -> lit(20L)), partCols = Seq("day"))._2 == 1L)
    spellings.foreach { root =>
      assert(ids(Manifest.read(spark, root)) == Set(4L, 20L), root)
    }
  }
}
