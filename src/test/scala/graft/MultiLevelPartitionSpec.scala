package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Erasure, Upsert}
import graft.sources.{GraftTable, Manifest}

/** Multi-level partitioning through DML, erasure, and upsert
  * (round-12 verdict #4): the reference's own serving layout is
  * three-level `year=/month=/day=` — a manifest table shaped that way
  * must take SQL DELETE/UPDATE/MERGE/INSERT and the partition-scoped
  * operators, with replacement scoped to exact LEAF partitions and
  * zero rewrites outside the touched leaves. */
class MultiLevelPartitionSpec extends SparkTestBase {
  import spark.implicits._

  private var n = 0
  /** y/m/d-style manifest table over (id, v, y, m, d). */
  private def mkTable(): (String, String) = {
    n += 1
    val root = Files.createTempDirectory("graft_ml").toString + "/t"
    Seq(
      (1L, 10L, "2019", "09", "22"), (2L, 20L, "2019", "09", "22"),
      (3L, 30L, "2019", "09", "23"), (4L, 40L, "2019", "10", "01"),
      (5L, 50L, "2020", "01", "05"))
      .toDF("id", "v", "y", "m", "d").repartition(2)
      .write.partitionBy("y", "m", "d").parquet(root)
    Manifest.bootstrap(spark, root)
    GraftTable.register(spark, "graft_ml", s"t$n", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v BIGINT, y STRING, m STRING, d STRING")),
      partitionCols = Seq("y", "m", "d"))
    (root, s"graft_ml.t$n")
  }

  private def rows(name: String): Set[(Long, Long, String)] =
    spark.table(name).select(col("id"), col("v"),
      concat_ws("-", col("y"), col("m"), col("d")).as("ymd"))
      .as[(Long, Long, String)].collect().toSet

  test("SQL DELETE on a y/m/d manifest table: a deletion-vector " +
    "commit — zero files rewritten at any level") {
    val (root, name) = mkTable()
    val before = Manifest.current(spark, root).get._2
    val res = spark.sql(s"DELETE FROM $name WHERE v >= 40")
      .as[(Long, Long)].collect().head
    assert(res == ((2L, 2L)))
    assert(Manifest.current(spark, root).get._2 == before,
      "merge-on-read: file list byte-identical across all three levels")
    assert(rows(name).map(_._1) == Set(1L, 2L, 3L))
  }

  test("SQL UPDATE on a y/m/d manifest table: staged files land only " +
    "under the rows' (possibly moved) leaves; originals carried") {
    val (root, name) = mkTable()
    val before = Manifest.current(spark, root).get._2.toSet
    val res = spark.sql(
      s"UPDATE $name SET v = v * 10, d = '28' WHERE id IN (1, 5)")
      .as[(Long, Long)].collect().head
    assert(res._2 == 2L)
    val after = Manifest.filesAt(spark, root, res._1).toSet
    assert(before.subsetOf(after), "originals stay, hidden by the DV")
    val newLeaves = (after -- before).map(Manifest.leafDirOf(_,
      Seq("y", "m", "d")))
    assert(newLeaves == Set("y=2019/m=09/d=28", "y=2020/m=01/d=28"),
      s"new files only under the updated rows' leaves: $newLeaves")
    assert(rows(name) == Set((1L, 100L, "2019-09-28"),
      (2L, 20L, "2019-09-22"), (3L, 30L, "2019-09-23"),
      (4L, 40L, "2019-10-01"), (5L, 500L, "2020-01-28")))
  }

  test("SQL MERGE and dynamic INSERT OVERWRITE on a y/m/d manifest " +
    "table: keyed replace + exact-leaf swap") {
    val (root, name) = mkTable()
    Seq((1L, 111L, "2019", "09", "22"), (9L, 90L, "2021", "02", "03"))
      .toDF("id", "v", "y", "m", "d").createOrReplaceTempView("ml_src")
    val res = spark.sql(
      s"""MERGE INTO $name t USING ml_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .as[(Long, Long)].collect().head
    assert(res._2 == 2L)
    assert(rows(name).contains((1L, 111L, "2019-09-22")))
    assert(rows(name).contains((9L, 90L, "2021-02-03")))
    // dynamic overwrite replaces exactly the leaf it writes
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val liveBefore = Manifest.current(spark, root).get._2
      spark.sql(s"INSERT OVERWRITE $name VALUES (7, 70, '2019', '09', '22')")
      val liveAfter = Manifest.current(spark, root).get._2
      val dropped = liveBefore.toSet -- liveAfter.toSet
      assert(dropped.forall(_.startsWith("y=2019/m=09/d=22/")),
        s"only the written leaf may drop: $dropped")
      assert(rows(name).exists(_ == ((7L, 70L, "2019-09-22"))))
      assert(rows(name).contains((3L, 30L, "2019-09-23")),
        "sibling leaf under the same y/m untouched")
    } finally prev match {
      case Some(p) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("plain OPTIMIZE on a y/m/d table: per-leaf bin-packing through " +
    "the log — content identical, leaf directories preserved") {
    val (root, name) = mkTable()
    // fragment one leaf with tiny appends
    for (i <- 20 to 25) {
      Seq((i.toLong, i * 10L, "2019", "09", "22"))
        .toDF("id", "v", "y", "m", "d")
        .write.mode("append").partitionBy("y", "m", "d").parquet(root)
      val (fs, rootP) = ((new org.apache.hadoop.fs.Path(root))
        .getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(root))
      Manifest.commit(spark, root, Manifest.listDataFiles(fs, rootP))
    }
    val before = rows(name)
    val nPre = Manifest.current(spark, root).get._2.size
    val v = spark.sql(s"OPTIMIZE $name").as[Long].head()
    val after = Manifest.filesAt(spark, root, v)
    assert(after.size < nPre, s"shrink: $nPre -> ${after.size}")
    assert(after.forall(f =>
      Manifest.leafDirOf(f, Seq("y", "m", "d")).nonEmpty),
      "every packed file sits under a full y/m/d leaf")
    assert(rows(name) == before, "content-identical")
  }

  test("erasePartitionScopedAtomicN: leaf-scoped GDPR rewrite — " +
    "untouched leaves byte-identical, fully-erased leaf vanishes, " +
    "ledger covers zero-match subjects") {
    val (root, _) = mkTable()
    val ledger = Files.createTempDirectory("graft_ml_led").toString + "/l"
    val before = Manifest.current(spark, root).get._2
    // ids 1+2 are ALL of leaf 2019/09/22; id 99 matches nothing
    val subjects = Seq(1L, 2L, 99L).toDF("id")
    Erasure.erasePartitionScopedAtomic(spark, root, Seq("y", "m", "d"),
      subjects, Seq("id"), batchId = "b1", ledgerPath = Some(ledger))
    val after = Manifest.current(spark, root).get._2
    assert(after.toSet.subsetOf(before.toSet),
      "no survivors in the fully-erased leaf -> nothing staged")
    assert(!after.exists(_.startsWith("y=2019/m=09/d=22/")),
      "the fully-erased leaf is gone from the manifest")
    val untouched = before.filterNot(_.startsWith("y=2019/m=09/d=22/"))
    assert(untouched.forall(after.contains),
      "every other leaf carried by reference")
    val led = spark.read.parquet(ledger)
    assert(led.count() == 3L, "one ledger row per requested subject")
    assert(led.where(col("id") === 99L)
      .select("n_rows_erased").as[Long].head() == 0L)
  }

  test("upsertPartitionScopedAtomicN: only leaves carrying source " +
    "rows are replaced; new leaves insert whole") {
    val (root, name) = mkTable()
    val before = Manifest.current(spark, root).get._2
    val src = Seq((3L, 333L, "2019", "09", "23"),   // update in-place
                  (8L, 80L, "2022", "12", "31"))    // brand-new leaf
      .toDF("id", "v", "y", "m", "d")
    Upsert.upsertPartitionScopedAtomic(spark, root, Seq("y", "m", "d"),
      src, Seq("id"))
    spark.catalog.refreshByPath(root)
    val after = Manifest.current(spark, root).get._2
    val replaced = before.toSet -- after.toSet
    assert(replaced.forall(_.startsWith("y=2019/m=09/d=23/")),
      s"only the touched leaf may be replaced: $replaced")
    assert(rows(name).contains((3L, 333L, "2019-09-23")))
    assert(rows(name).contains((8L, 80L, "2022-12-31")))
    assert(rows(name).contains((1L, 10L, "2019-09-22")), "untouched")
  }

  test("atomic upsert reads ONLY the touched leaves' files: a data " +
    "file missing from an untouched leaf never stops the merge") {
    val (root, _) = mkTable()
    val pc = Seq("y", "m", "d")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    // physically delete a file of leaf 2020/01/05 — any whole-snapshot
    // read would now fail on the missing path
    val victim = Manifest.current(spark, root).get._2
      .find(_.startsWith("y=2020/m=01/d=05/")).get
    fs.delete(new org.apache.hadoop.fs.Path(rootP, victim), false)
    Upsert.upsertPartitionScopedAtomic(spark, root, pc,
      Seq((3L, 333L, "2019", "09", "23")).toDF("id", "v", "y", "m", "d"),
      Seq("id"))
    val (v, after) = Manifest.current(spark, root).get
    assert(after.contains(victim), "untouched leaf carried by reference")
    val touched = after.filter(_.startsWith("y=2019/m=09/d=23/"))
    assert(Manifest.readSubset(spark, root, touched, v)
      .select("id", "v").as[(Long, Long)].collect().toSeq ==
      Seq((3L, 333L)))
  }

  test("leaf CAS on a y/m/d table: a rival commit between stage and " +
    "publish on a TOUCHED leaf (new file or deletion vector) aborts " +
    "loudly; on a disjoint leaf the publish rebases and keeps the " +
    "rival's file") {
    val pc = Seq("y", "m", "d")
    def stage(root: String, rows: Seq[(Long, Long, String, String, String)])
        : Seq[String] = {
      val rootP = new org.apache.hadoop.fs.Path(root)
      Manifest.stageUniqueParts(spark,
        rootP.getFileSystem(spark.sessionState.newHadoopConf()), rootP, pc,
        rows.toDF("id", "v", "y", "m", "d"))
    }
    def rivalAppends(root: String,
                     row: (Long, Long, String, String, String)): String = {
      val (cur, live) = Manifest.current(spark, root).get
      val f = stage(root, Seq(row))
      assert(Manifest.tryCommit(spark, root, live ++ f, cur).isDefined)
      f.head
    }
    val leaf = "y=2019/m=09/d=23"
    // overlap: the rival lands in the leaf we are replacing
    val (r1, _) = mkTable()
    val base1 = Manifest.current(spark, r1).get._1
    val ours1 = stage(r1, Seq((3L, 333L, "2019", "09", "23")))
    rivalAppends(r1, (7L, 70L, "2019", "09", "23"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.commitLeafReplacementCas(spark, r1, pc, base1, Set(leaf), ours1)
    }
    assert(ex.getMessage.contains(leaf))
    assert(Manifest.current(spark, r1).get._1 == base1 + 1,
      "the aborted publish committed nothing")
    // overlap by deletion vector: the rival deletes a row of the leaf
    // we are replacing without changing the file list — publishing our
    // pre-delete rewrite would resurrect it
    val (r3, name3) = mkTable()
    val base3 = Manifest.current(spark, r3).get._1
    val ours3 = stage(r3, Seq((3L, 333L, "2019", "09", "23"),
      (9L, 90L, "2019", "09", "23")))
    Manifest.deleteWhere(spark, r3, col("id") === 3L)
    val exDv = intercept[java.util.ConcurrentModificationException] {
      Manifest.commitLeafReplacementCas(spark, r3, pc, base3, Set(leaf), ours3)
    }
    assert(exDv.getMessage.contains(leaf))
    spark.catalog.refreshByPath(r3)
    assert(!rows(name3).exists(_._1 == 3L), "the rival's delete stands")
    // disjoint: the rival lands in another leaf — rebase, keep its file
    val (r2, name2) = mkTable()
    val base2 = Manifest.current(spark, r2).get._1
    val ours2 = stage(r2, Seq((3L, 333L, "2019", "09", "23")))
    val rivalFile = rivalAppends(r2, (8L, 80L, "2020", "01", "05"))
    val v = Manifest.commitLeafReplacementCas(spark, r2, pc, base2,
      Set(leaf), ours2)
    assert(v == base2 + 2, s"rebased onto the rival's slot, got $v")
    val published = Manifest.filesAt(spark, r2, v)
    assert(published.contains(rivalFile), "rival's file published")
    assert(ours2.forall(published.contains))
    spark.catalog.refreshByPath(r2)
    assert(rows(name2) == Set((1L, 10L, "2019-09-22"),
      (2L, 20L, "2019-09-22"), (3L, 333L, "2019-09-23"),
      (4L, 40L, "2019-10-01"), (5L, 50L, "2020-01-05"),
      (8L, 80L, "2020-01-05")))
  }
}
