package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sources.{GraftTable, Manifest}

/** MERGE-ON-READ DELETES (deletion vectors — Delta DV / Iceberg
  * position-delete semantics, public designs): a delete commits an
  * O(deleted rows) (file, pos) artifact and rewrites ZERO data files;
  * every read path — Manifest.read, time travel, the unified
  * spark.table() resolution, the change feed, log-answered COUNT —
  * serves the table minus the deleted positions; purge materializes
  * and vacuum garbage-collects. The 100 TB claim under test: file
  * lists stay byte-identical across a delete, and deletes survive any
  * later commit (carry-forward is the tryCommit DEFAULT, so a
  * DV-unaware writer cannot resurrect rows). */
class DvSpec extends SparkTestBase {
  import spark.implicits._

  /** day-partitioned manifest table: 4 rows in d1, 2 in d2, 1 in d3. */
  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft_dv").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d1", 30L), (4L, "d1", 40L),
        (5L, "d2", 50L), (6L, "d2", 60L), (7L, "d3", 70L))
      .toDF("id", "day", "v")
      .repartition(2)
      .write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    path
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def snap(path: String): Set[Long] = ids(Manifest.read(spark, path))

  test("deleteWhere: rows vanish from the snapshot, zero data files " +
    "rewritten, the artifact is version-pinned metadata") {
    val path = freshTable()
    val filesBefore = Manifest.current(spark, path).get._2
    val (v, n) = Manifest.deleteWhere(spark, path,
      col("v") === 20L || col("id") === 5L)
    assert(v == 2L && n == 2L)
    assert(snap(path) == Set(1L, 3L, 4L, 6L, 7L))
    // merge-on-read contract: the data-file list is BYTE-IDENTICAL —
    // the delete wrote only the DV artifact
    assert(Manifest.filesAt(spark, path, v) == filesBefore)
    assert(Manifest.dvsAt(spark, path, v).size == 1)
    assert(Manifest.dvsAt(spark, path, 1L).isEmpty)
  }

  test("deletes stack across commits; re-deleting deleted rows is a " +
    "no-op commit (already-deleted rows never re-match)") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 1L)
    val (v2, n2) = Manifest.deleteWhere(spark, path, col("id") <= 2L)
    assert(n2 == 1L, "id=1 is already deleted; only id=2 matches")
    assert(Manifest.dvsAt(spark, path, v2).size == 2)
    val (v3, n3) = Manifest.deleteWhere(spark, path, col("id") === 1L)
    assert(n3 == 0L && v3 == v2, "no-match delete must not commit")
    assert(snap(path) == Set(3L, 4L, 5L, 6L, 7L))
  }

  test("time travel replays deletes exactly: pre-delete versions show " +
    "the rows, post-delete versions do not") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("day") === "d2")
    assert(ids(Manifest.readVersion(spark, path, 1L)) == (1L to 7L).toSet)
    assert(ids(Manifest.readVersion(spark, path, 2L)) == Set(1L, 2L, 3L, 4L, 7L))
  }

  test("deleteMatching: keyed GDPR-shaped delete, subjects carry no " +
    "partition column") {
    val path = freshTable()
    val subjects = Seq(2L, 6L, 999L).toDF("id") // 999: no-match key
    val (_, n) = Manifest.deleteMatching(spark, path, subjects, Seq("id"))
    assert(n == 2L)
    assert(snap(path) == Set(1L, 3L, 4L, 5L, 7L))
  }

  test("countRows stays log-answered through deletes: physical stats " +
    "minus per-file DV counts, partition-filtered too") {
    val path = freshTable()
    val (v, _) = Manifest.deleteWhere(spark, path,
      col("id") === 1L || col("id") === 5L)
    Manifest.writeStats(spark, path, v)
    assert(Manifest.countRows(spark, path) == 5L)
    assert(Manifest.countRows(spark, path, Some("day"), _ == "d1") == 3L)
    assert(Manifest.countRows(spark, path, Some("day"), _ == "d2") == 1L)
  }

  test("any later commit carries deletion vectors forward by default: " +
    "a DV-unaware append cannot resurrect deleted rows") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 4L)
    // plain append + default commit (the pre-DV writer pattern)
    Seq((8L, "d4", 80L)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    val (fs, rootP) = (new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path))
    val v = Manifest.commit(spark, path, Manifest.listDataFiles(fs, rootP))
    assert(Manifest.dvsAt(spark, path, v).size == 1, "DV carried forward")
    assert(snap(path) == Set(1L, 2L, 3L, 5L, 6L, 7L, 8L))
  }

  test("partition replacement with live DVs: untouched partitions keep " +
    "their deletes; DV rows aimed at replaced files go inert") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 2L) // d1 row
    Manifest.deleteWhere(spark, path, col("id") === 5L) // d2 row
    // replace d2 entirely (writes FRESH files there; the old d2 DV row
    // now points at a dead file and must change nothing)
    Manifest.commitPartitionReplacementCas(spark, path, "day",
      Seq((50L, "d2", 500L), (51L, "d2", 510L)).toDF("id", "day", "v"),
      touched = Seq("d2"))
    assert(snap(path) == Set(1L, 3L, 4L, 7L, 50L, 51L),
      "d1 delete survives; replaced d2 serves its new rows in full")
  }

  test("unified spark.table() read serves merge-on-read deletes, and " +
    "count(*) through it is DV-exact (metadata fold declines)") {
    val path = freshTable()
    val (v, _) = Manifest.deleteWhere(spark, path, col("id").isin(1L, 6L))
    Manifest.writeStats(spark, path, v)
    val tag = Integer.toHexString(path.hashCode)
    GraftTable.register(spark, "graft_test", s"dv_$tag", path)
    val t = spark.table(s"graft_test.dv_$tag")
    assert(ids(t) == Set(2L, 3L, 4L, 5L, 7L))
    assert(t.count() == 5L,
      "a stats-sidecar metadata fold over physical rows would say 7")
    assert(ids(t.where(col("day") === "d1")) == Set(2L, 3L, 4L))
    // a later delete is visible to the NEXT query (re-pinned version)
    Manifest.deleteWhere(spark, path, col("id") === 7L)
    assert(spark.table(s"graft_test.dv_$tag").count() == 4L)
  }

  test("purgeDeletes materializes: same rows, DV refs cleared, ONLY " +
    "DV'd files rewritten, pre-purge version still time-travels") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id").isin(2L, 3L))
    val before = Manifest.current(spark, path).get._2
    val pv = Manifest.purgeDeletes(spark, path)
    assert(Manifest.dvsAt(spark, path, pv).isEmpty)
    assert(snap(path) == Set(1L, 4L, 5L, 6L, 7L))
    val after = Manifest.filesAt(spark, path, pv)
    // untouched files are carried BY REFERENCE (identical rel paths);
    // only files the DV touched were replaced
    val carried = after.toSet intersect before.toSet
    assert(carried.nonEmpty, "files without deletes must not rewrite")
    assert(after.toSet != before.toSet, "DV'd files must be replaced")
    assert(ids(Manifest.readVersion(spark, path, 2L)) ==
      Set(1L, 4L, 5L, 6L, 7L), "pre-purge version replays WITH its DV")
    // purge on a clean table is a no-op version-wise
    assert(Manifest.purgeDeletes(spark, path) == pv)
  }

  test("purgeDeletes racing a rival commit between plan and publish: a " +
    "rival APPEND survives the purge; a rival DV on a file being purged " +
    "aborts and its delete stands") {
    def append(path: String): Seq[String] = {
      val rootP = new org.apache.hadoop.fs.Path(path)
      val f = Manifest.stageUniqueParts(spark,
        rootP.getFileSystem(spark.sessionState.newHadoopConf()), rootP,
        Seq("day"), Seq((8L, "d4", 80L)).toDF("id", "day", "v"))
      val (cur, live) = Manifest.current(spark, path).get
      assert(Manifest.tryCommit(spark, path, live ++ f, cur).isDefined)
      f
    }
    // append arm: rebases in, the purge still materializes every delete
    val path = freshTable()
    val (v2, _) = Manifest.deleteWhere(spark, path, col("id") === 2L)
    var rivalFiles: Seq[String] = Nil
    val pv = RivalCommit.around(path)({ rivalFiles = append(path) }) {
      Manifest.purgeDeletes(spark, path)
    }
    assert(pv == v2 + 2, s"the purge rebased onto the rival's slot: $pv")
    assert(rivalFiles.nonEmpty &&
      rivalFiles.forall(Manifest.filesAt(spark, path, pv).contains),
      "the rival's appended file must stay live")
    assert(Manifest.dvsAt(spark, path, pv).isEmpty)
    assert(snap(path) == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L))
    // DV arm: one d1 file holds ids 1 and 2; the purge rewrites it for
    // id 1 while the rival deletes id 2 from it — publishing the
    // rewrite would resurrect id 2
    val path2 = Files.createTempDirectory("graft_dv_race").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v").coalesce(1)
      .write.partitionBy("day").parquet(path2)
    Manifest.bootstrap(spark, path2)
    Manifest.deleteWhere(spark, path2, col("id") === 1L)
    intercept[java.util.ConcurrentModificationException] {
      RivalCommit.around(path2)({
        Manifest.deleteWhere(spark, path2, col("id") === 2L); ()
      }) {
        Manifest.purgeDeletes(spark, path2)
      }
    }
    assert(snap(path2) == Set(3L), "the rival's delete stands")
  }

  test("vacuum: retained versions keep their DV artifacts; dropping " +
    "retention reclaims artifacts AND replaced files") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 1L)
    Manifest.purgeDeletes(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dvDirNonEmpty = {
      val p = new org.apache.hadoop.fs.Path(path, Manifest.DvDir)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    // keep v2 (the DV version) → its artifact must survive vacuum
    Manifest.vacuum(spark, path, keepVersions = 2)
    assert(dvDirNonEmpty, "retained DV version needs its artifact")
    assert(ids(Manifest.readVersion(spark, path, 2L)) ==
      Set(2L, 3L, 4L, 5L, 6L, 7L))
    // retention down to the purged head → artifact + originals go
    Manifest.vacuum(spark, path, keepVersions = 1)
    assert(!dvDirNonEmpty, "unreferenced DV artifact must be reclaimed")
    assert(snap(path) == Set(2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("updateWhere: one atomic commit = DV over the old rows + staged " +
    "updated rows; cross-partition moves land under their new value") {
    val path = freshTable()
    val filesBefore = Manifest.current(spark, path).get._2.toSet
    val (v, n) = Manifest.updateWhere(spark, path,
      col("id") === 2L || col("id") === 5L,
      Map("v" -> (col("v") + 1000L), "day" -> lit("d9")),
      partCols = Seq("day"))
    assert(n == 2L)
    val got = Manifest.read(spark, path)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "d1", 10L), (2L, "d9", 1020L), (3L, "d1", 30L),
      (4L, "d1", 40L), (5L, "d9", 1050L), (6L, "d2", 60L), (7L, "d3", 70L)))
    val after = Manifest.filesAt(spark, path, v).toSet
    assert(filesBefore.subsetOf(after), "merge-on-read: originals stay")
    assert((after -- filesBefore).forall(_.startsWith("day=d9/")),
      "only the updated copies are new bytes")
    assert(Manifest.dvsAt(spark, path, v).size == 1)
    // time travel: the pre-update version still shows the old rows
    assert(ids(Manifest.readVersion(spark, path, 1L)) == (1L to 7L).toSet)
    assert(Manifest.readVersion(spark, path, 1L)
      .where(col("id") === 2L).select("v").as[Long].head() == 20L)
    // update matching nothing: no commit
    val (v2, n2) = Manifest.updateWhere(spark, path,
      col("id") === 999L, Map("v" -> lit(0L)), partCols = Seq("day"))
    assert(v2 == v && n2 == 0L)
  }

  test("updateWhere on an unpartitioned table; purge afterwards " +
    "materializes updates exactly once") {
    val path = Files.createTempDirectory("graft_dvu").toString + "/t"
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .coalesce(1).write.parquet(path)
    Manifest.bootstrap(spark, path)
    val (_, n) = Manifest.updateWhere(spark, path,
      col("id") =!= 2L, Map("v" -> (col("v") * 2L)))
    assert(n == 2L)
    def rows() = Manifest.read(spark, path)
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(rows() == Set((1L, 20L), (2L, 20L), (3L, 60L)))
    Manifest.purgeDeletes(spark, path)
    assert(rows() == Set((1L, 20L), (2L, 20L), (3L, 60L)))
    assert(Manifest.dvsAt(spark, path,
      Manifest.current(spark, path).get._1).isEmpty)
  }

  test("mergeDv: keyed MERGE in one commit — matched rows replaced " +
    "whole-row via DV, new keys inserted, originals untouched on disk") {
    val path = freshTable()
    val before = Manifest.current(spark, path).get
    val batch = Seq(
      (2L, "d1", 222L),  // matched: replaces (2, d1, 20)
      (6L, "d2", 666L),  // matched: replaces (6, d2, 60)
      (8L, "d4", 80L))   // new key: plain insert
      .toDF("id", "day", "v")
    val (v, matched, written) =
      Manifest.mergeDv(spark, path, batch, Seq("id"), partCols = Seq("day"))
    assert(v == before._1 + 1 && matched == 2L && written == 3L)
    val got = Manifest.read(spark, path)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "d1", 10L), (2L, "d1", 222L), (3L, "d1", 30L),
      (4L, "d1", 40L), (5L, "d2", 50L), (6L, "d2", 666L), (7L, "d3", 70L),
      (8L, "d4", 80L)))
    assert(before._2.toSet.subsetOf(
      Manifest.filesAt(spark, path, v).toSet), "zero rewrites")
    assert(Manifest.dvsAt(spark, path, v).size == 1)
    // re-merging the same batch is idempotent in OUTCOME (its own rows
    // match now) and stacks a second DV
    val (v2, m2, _) = Manifest.mergeDv(spark, path, batch, Seq("id"),
      partCols = Seq("day"))
    assert(m2 == 3L)
    assert(Manifest.read(spark, path)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet == got)
    assert(Manifest.dvsAt(spark, path, v2).size == 2)
    // pre-merge version replays without the batch
    assert(ids(Manifest.readVersion(spark, path, before._1)) ==
      (1L to 7L).toSet)
    // empty source: no commit at all
    val (v3, m3, w3) = Manifest.mergeDv(spark, path, batch.limit(0),
      Seq("id"), partCols = Seq("day"))
    assert(v3 == v2 && m3 == 0L && w3 == 0L)
  }

  test("eraseGroupDv: subjects leave every member with one flip and " +
    "ZERO rewritten files; ledger carries zero-match proofs") {
    import graft.operators.Erasure
    import graft.sources.ManifestGroup
    val tmp = Files.createTempDirectory("graft_dvgrp").toString
    val rootA = s"$tmp/facts"; val rootB = s"$tmp/roll"
    val meta = s"$tmp/meta"; val ledger = s"$tmp/ledger"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v").write.partitionBy("day").parquet(rootA)
    Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "n")
      .coalesce(1).write.parquet(rootB)
    Manifest.bootstrap(spark, rootA); Manifest.bootstrap(spark, rootB)
    ManifestGroup.flip(spark, meta, Map(
      rootA -> Manifest.commit(spark, rootA, Manifest.current(spark, rootA).get._2),
      rootB -> Manifest.commit(spark, rootB, Manifest.current(spark, rootB).get._2)))
    val filesA = Manifest.current(spark, rootA).get._2
    val filesB = Manifest.current(spark, rootB).get._2
    val subjects = Seq(2L, 999L).toDF("id")
    Erasure.eraseGroupDv(spark, meta, Seq(rootA, rootB), subjects,
      Seq("id"), batchId = "dv-gdpr-1", ledgerPath = Some(ledger))
    val (_, mapping) = ManifestGroup.currentGroup(spark, meta).get
    def groupRead(root: String) = Manifest.readVersion(spark, root,
      mapping(ManifestGroup.normKey(root)))
    assert(ids(groupRead(rootA)) == Set(1L, 3L))
    assert(ids(groupRead(rootB)) == Set(1L, 3L))
    // zero rewrite: both members' file lists are byte-identical
    assert(Manifest.current(spark, rootA).get._2 == filesA)
    assert(Manifest.current(spark, rootB).get._2 == filesB)
    // ledger: one row per (member, subject), zero-match proof included
    val led = spark.read.parquet(ledger)
      .select(col("member"), col("id"), col("n_rows_erased"))
      .as[(String, Long, Long)].collect().toSet
    assert(led == Set((rootA, 2L, 1L), (rootA, 999L, 0L),
      (rootB, 2L, 1L), (rootB, 999L, 0L)))
  }

  test("schema-in-log: declared schema beats inference — evolved files " +
    "union with null-fill, time travel keeps each version's OWN schema, " +
    "vacuum retains the carried effective sidecar") {
    val path = Files.createTempDirectory("graft_schlog").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d2", 20L)).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)                            // v1
    Manifest.writeSchema(spark, path, 1L, Manifest.read(spark, path).schema)
    // ADDITIVE evolution: new files carry `note`, old files predate it
    Seq((3L, "d3", 30L, "x")).toDF("id", "day", "v", "note")
      .write.mode("append").partitionBy("day").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v2 = Manifest.commit(spark, path,
      Manifest.listDataFiles(fs, new org.apache.hadoop.fs.Path(path)))
    Manifest.writeSchema(spark, path, v2,
      Seq((1L, "d1", 10L, "x")).toDF("id", "day", "v", "note").schema)
    val now = Manifest.read(spark, path)
    // data columns in declared order; Spark always surfaces partition
    // columns last (its partitioned-read contract, schema or not)
    assert(now.columns.toSeq == Seq("id", "v", "note", "day"),
      s"declared data order + trailing partition col: ${now.columns.toSeq}")
    assert(now.select("id", "note").as[(Long, Option[String])]
      .collect().toMap == Map(1L -> None, 2L -> None, 3L -> Some("x")),
      "old files null-fill the evolved column deterministically")
    // time travel: v1 reads with ITS schema — the later column absent
    assert(!Manifest.readVersion(spark, path, 1L)
      .columns.contains("note"))
    // v3 without its own sidecar CARRIES v2's schema
    Manifest.commit(spark, path, Manifest.filesAt(spark, path, v2))
    assert(Manifest.schemaAt(spark, path, 3L).get.fieldNames
      .contains("note"))
    // retention: kept={v3}, whose effective sidecar is schema-2 → kept
    Manifest.vacuum(spark, path, keepVersions = 1)
    assert(Manifest.schemaAt(spark, path, 3L).get.fieldNames
      .contains("note"), "vacuum must keep the carried effective schema")
    assert(Manifest.read(spark, path).columns.contains("note"))
  }

  test("restore: the table flips back to a retained snapshot via one " +
    "APPEND-ONLY commit — bad commits stay in the audit log, deletes " +
    "restore too, missing history refuses loudly") {
    val path = freshTable()                                  // v1
    Manifest.deleteWhere(spark, path, col("id") === 1L)      // v2
    // the "bad" commit: wipe partition d1 entirely
    Manifest.commit(spark, path,                             // v3
      Manifest.current(spark, path).get._2.filterNot(_.startsWith("day=d1/")))
    assert(snap(path) == Set(5L, 6L, 7L))
    val v = Manifest.restore(spark, path, 2L)                // v4 == v2's view
    assert(v == 4L, "restore is a NEW version — the log stays linear")
    assert(snap(path) == Set(2L, 3L, 4L, 5L, 6L, 7L),
      "v2's files AND its deletion vector are back")
    assert(Manifest.dvsAt(spark, path, 4L).size == 1)
    // the full audit trail survives: nothing was erased from the log
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L, 4L))
    // restoring to the serving snapshot commits nothing
    assert(Manifest.restore(spark, path, 4L) == 4L)
    assert(Manifest.versions(spark, path).size == 4)
    // a version retention dropped refuses loudly
    intercept[IllegalArgumentException] {
      Manifest.restore(spark, path, 99L)
    }
  }

  test("history: operations inferred from delta shapes, including the " +
    "noop republish and the full-partition erase the q246 script skips") {
    val path = freshTable()                                   // v1
    val files = Manifest.current(spark, path).get._2
    Manifest.commit(spark, path, files)                       // v2: noop
    Manifest.deleteWhere(spark, path, col("id") === 1L)       // v3: delete
    // v4: drop partition d3 entirely — files removed, none added
    Manifest.commit(spark, path,
      Manifest.current(spark, path).get._2.filterNot(_.startsWith("day=d3/")))
    val h = Manifest.history(spark, path)
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(h == Map(1L -> "bootstrap", 2L -> "noop", 3L -> "delete",
      4L -> "erase"), h.toString)
    // timestamps are informational but must be monotone non-decreasing
    val ts = Manifest.history(spark, path).orderBy("version")
      .select("timestamp_ms").as[Long].collect()
    assert(ts.sorted.sameElements(ts))
  }

  test("vacuum DV grace window gates on the files INSIDE the artifact, " +
    "not the directory mtime — object stores report directory mtime 0") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 1L)       // v2: DV live
    // stage an UNREFERENCED artifact (a racing deleteWhere between its
    // DV write and its CAS) whose freshly-written files sit inside a
    // directory that — as on S3A — reports mtime 0
    val staged = new java.io.File(new java.io.File(path, Manifest.DvDir),
      "dv-racer-staged")
    Seq(("w=1/zzz.parquet", 0L)).toDF("file", "pos")
      .write.parquet(staged.toString)
    assert(staged.setLastModified(0L), "test needs a settable dir mtime")
    Manifest.vacuum(spark, path, keepVersions = 1, minAgeMs = 3600 * 1000L)
    assert(staged.exists(),
      "grace window must protect a staged DV whose DIRECTORY mtime is 0")
    // with no grace window the unreferenced artifact is reclaimed
    Manifest.vacuum(spark, path, keepVersions = 1)
    assert(!staged.exists())
    // the referenced artifact survived both passes
    assert(snap(path) == Set(2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("history: a commit that only DROPS deletion-vector references " +
    "(restore to a pre-delete version) reports 'restore', never 'noop' " +
    "— the commit resurrected deleted rows") {
    val path = freshTable()                                   // v1
    Manifest.deleteWhere(spark, path, col("id") === 1L)       // v2: delete
    assert(snap(path) == Set(2L, 3L, 4L, 5L, 6L, 7L))
    Manifest.restore(spark, path, 1L)                         // v3: files
    assert(snap(path) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))     // unchanged,
    val h = Manifest.history(spark, path)                     // DVs dropped
      .select("version", "operation", "dvs_removed")
      .as[(Long, String, Long)].collect()
      .map { case (v, op, dr) => v -> ((op, dr)) }.toMap
    assert(h == Map(1L -> (("bootstrap", 0L)), 2L -> (("delete", 0L)),
      3L -> (("restore", 1L))), h.toString)
  }

  test("optimizeZOrder: one atomic clustered rewrite — colstats range " +
    "pruning improves on BOTH dimensions, pending deletes materialize, " +
    "pre-optimize version still time-travels") {
    import graft.jobs.Compaction
    val path = Files.createTempDirectory("graft_zopt").toString + "/t"
    // 4096 (x, y) points over a 64x64 grid, written hash-shuffled so
    // every one of the 8 initial files spans the whole grid
    spark.range(4096)
      .select((col("id") % 64).as("x"),
        ((col("id") * 2654435761L) % 64).as("y"),
        col("id").as("payload"))
      .repartition(8).write.parquet(path)
    Manifest.bootstrap(spark, path)
    Manifest.writeColStats(spark, path, 1L, Seq("x", "y"))
    def intersecting(v: Long, c: String, lo: Long, hi: Long): Int =
      Manifest.readColStats(spark, path, v).collect {
        case ((_, col0), (_, mn: Long, mx: Long, _, _, _))
            if col0 == c && mx >= lo && mn <= hi => 1
      }.sum
    assert(intersecting(1L, "x", 10L, 12L) == 8 &&
      intersecting(1L, "y", 10L, 12L) == 8,
      "shuffled layout: every file spans the whole grid")
    // pending merge-on-read deletes must materialize in the rewrite
    val (_, nDel) = Manifest.deleteWhere(spark, path, col("x") === 63L)
    assert(nDel == 64L)
    val v = Compaction.optimizeZOrder(spark, path, Seq("x", "y"),
      zBits = 6, numFiles = 8)
    assert(Manifest.dvsAt(spark, path, v).isEmpty,
      "OPTIMIZE materializes pending deletes")
    val got = Manifest.read(spark, path).select("x", "y", "payload")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.size == 4096 - 64 && !got.exists(_._1 == 63L))
    // the z-curve claim: BOTH dimensions prune after clustering
    val xAfter = intersecting(v, "x", 10L, 12L)
    val yAfter = intersecting(v, "y", 10L, 12L)
    assert(xAfter < 8 && yAfter < 8,
      s"clustered layout must prune both dims: x=$xAfter y=$yAfter of 8")
    // pre-optimize versions replay (files retained until vacuum)
    assert(Manifest.readVersion(spark, path, 1L).count() == 4096L)
  }

  test("commitChecked: a batch violating write-time expectations never " +
    "becomes live — readers hold the old snapshot, staged files are " +
    "vacuum fodder; a clean batch commits normally") {
    import graft.operators.Expectations.{InRange, MinRows, NotNull}
    val path = freshTable()
    val exps = Seq(NotNull("v"), InRange("v", 0, 1000), MinRows(1))
    // bad batch: a null v and an out-of-range v
    Seq((Some(8L), "d4", None: Option[Long]), (Some(9L), "d4", Some(5000L)))
      .toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def listing() = Manifest.listDataFiles(fs,
      new org.apache.hadoop.fs.Path(path))
    val e = intercept[IllegalStateException] {
      Manifest.commitChecked(spark, path, listing(), exps)
    }
    assert(e.getMessage.contains("REFUSED") &&
      e.getMessage.contains("not_null") && e.getMessage.contains("in_range"))
    assert(Manifest.current(spark, path).get._1 == 1L &&
      snap(path) == (1L to 7L).toSet, "readers keep the old snapshot")
    // the refused files are unreferenced: vacuum reclaims them
    Manifest.vacuum(spark, path)
    assert(listing().toSet == Manifest.current(spark, path).get._2.toSet)
    // clean batch: admitted
    Seq((8L, "d4", 80L)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    val v = Manifest.commitChecked(spark, path, listing(), exps)
    assert(v == 2L && snap(path) == (1L to 8L).toSet)
  }

  test("two racing deletes: the CAS loser discards its artifact, " +
    "re-plans on the rival's snapshot, and both deletes land — " +
    "versions linear, no duplicate positions") {
    val path = freshTable()
    val (v, n) = RivalCommit.around(path)({
      // rival lands a FULL delete commit inside the loser's window
      val (rv, rn) = Manifest.deleteWhere(spark, path, col("id") === 5L)
      assert(rv == 2L && rn == 1L)
    }) {
      Manifest.deleteWhere(spark, path, col("id") === 2L)
    }
    assert(v == 3L && n == 1L, "loser re-plans and takes the next slot")
    assert(snap(path) == Set(1L, 3L, 4L, 6L, 7L))
    assert(Manifest.dvsAt(spark, path, 3L).size == 2)
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L))
    // countRows stays exact across the raced artifacts
    Manifest.writeStats(spark, path, 3L)
    assert(Manifest.countRows(spark, path) == 5L)
  }

  test("MERGE racing a MERGE that inserts the same new key: the loser " +
    "re-plans at the head and its DV hides the rival's row — one row " +
    "per key, versions linear") {
    val path = freshTable()
    val (v, matched, written) = RivalCommit.around(path)({
      val (rv, rm, rw) = Manifest.mergeDv(spark, path,
        Seq((8L, "d4", 81L)).toDF("id", "day", "v"), Seq("id"), Seq("day"))
      assert(rv == 2L && rm == 0L && rw == 1L)
    }) {
      Manifest.mergeDv(spark, path,
        Seq((8L, "d4", 82L), (1L, "d1", 11L)).toDF("id", "day", "v"),
        Seq("id"), Seq("day"))
    }
    val rows = Manifest.read(spark, path).select("id", "v").as[(Long, Long)]
      .collect().toSeq
    assert(rows.groupBy(_._1).forall(_._2.size == 1), s"duplicate key: $rows")
    assert(rows.toMap == Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 4L -> 40L,
      5L -> 50L, 6L -> 60L, 7L -> 70L, 8L -> 82L))
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(v == 3L && matched == 2L && written == 2L,
      "the re-planned MERGE matches the rival's key 8 and key 1")
  }

  test("UPDATE racing a DELETE of another row in the same file: both " +
    "land, countRows is exact, no (file, pos) pair is duplicated") {
    val path = Files.createTempDirectory("graft_dv_race").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v").coalesce(1)
      .write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    val (v, n) = RivalCommit.around(path)({
      val (rv, rn) = Manifest.deleteWhere(spark, path, col("id") === 2L)
      assert(rv == 2L && rn == 1L)
    }) {
      Manifest.updateWhere(spark, path, col("id") === 1L,
        Map("v" -> lit(111L)), partCols = Seq("day"))
    }
    assert(v == 3L && n == 1L, "the update re-plans and takes the next slot")
    assert(Manifest.read(spark, path).select("id", "v").as[(Long, Long)]
      .collect().toSet == Set((1L, 111L), (3L, 30L)))
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L))
    val pairs = spark.read
      .parquet(Manifest.dvsAt(spark, path, v).map(d => s"$path/$d"): _*)
      .select("file", "pos").as[(String, Long)].collect().toSeq
    assert(pairs.size == 2 && pairs.distinct.size == pairs.size,
      s"DV pairs: $pairs")
    Manifest.writeStats(spark, path, v)
    assert(Manifest.countRows(spark, path) == 2L)
  }

  test("VERSION AS OF through the catalog: a version-pinned " +
    "registration replays its snapshot (deletes included) forever, " +
    "next to a latest-serving name on the same root") {
    import graft.sources.GraftTable
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 3L) // v2: DV delete
    val tag = Integer.toHexString(path.hashCode)
    GraftTable.register(spark, "graft_test", s"pin1_$tag", path,
      versionAsOf = Some(1L)) // pre-delete audit pin
    GraftTable.register(spark, "graft_test", s"pin2_$tag", path,
      versionAsOf = Some(2L)) // post-delete pin (replays the DV)
    GraftTable.register(spark, "graft_test", s"live_$tag", path)
    // the table keeps moving: an update lands after the pins
    Manifest.updateWhere(spark, path, col("id") === 1L,
      Map("v" -> lit(111L)), partCols = Seq("day"))
    assert(ids(spark.table(s"graft_test.pin1_$tag")) == (1L to 7L).toSet)
    assert(ids(spark.table(s"graft_test.pin2_$tag")) ==
      Set(1L, 2L, 4L, 5L, 6L, 7L))
    assert(spark.table(s"graft_test.pin2_$tag")
      .where(col("id") === 1L).select("v").as[Long].head() == 10L,
      "the pin must predate the update")
    assert(spark.table(s"graft_test.live_$tag")
      .where(col("id") === 1L).select("v").as[Long].head() == 111L)
    // a pin to a never-committed version refuses at registration
    intercept[IllegalArgumentException] {
      GraftTable.register(spark, "graft_test", s"pinx_$tag", path,
        versionAsOf = Some(99L))
    }
    // retention drops v1 → the pinned table fails LOUDLY, not stale
    Manifest.vacuum(spark, path, keepVersions = 2)
    val e = intercept[Exception] {
      spark.table(s"graft_test.pin1_$tag").count()
    }
    assert(e.getMessage.contains("vacuumed away"),
      s"expected the retention-vs-pin refusal, got: ${e.getMessage}")
  }

  test("merge-on-read streaming upsert: each micro-batch is one " +
    "mergeDv commit — keyed updates land with zero partition rewrites") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = Files.createTempDirectory("dvsu").toString + "/serve"
    val ckpt = Files.createTempDirectory("dvsuck").toString
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = graft.streaming.StreamingUpsert.run(
      input.toDF().toDF("id", "day", "v"), root, ckpt, "day", Seq("id"),
      mergeOnRead = true)
    try {
      input.addData((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
      q.processAllAvailable()
      val (v1, files1) = Manifest.current(spark, root).get
      input.addData((1L, "2024-01-01", 99L), (3L, "2024-01-03", 30L))
      q.processAllAvailable()
      val (v2, files2) = Manifest.current(spark, root).get
      assert(v2 > v1)
      assert(files1.toSet.subsetOf(files2.toSet),
        "batch 2 must not rewrite batch 1's files — key 1 dies by DV")
      assert(Manifest.dvsAt(spark, root, v2).nonEmpty)
      val out = Manifest.read(spark, root)
        .select(col("id"), col("day").cast("string"), col("v"))
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((1L, "2024-01-01", 99L), (2L, "2024-01-02", 20L),
        (3L, "2024-01-03", 30L)))
      // steady state: a scheduled purge materializes, truth unchanged
      Manifest.purgeDeletes(spark, root)
      assert(Manifest.read(spark, root)
        .select(col("id"), col("day").cast("string"), col("v"))
        .as[(Long, String, Long)].collect().toSet == out)
    } finally q.stop()
  }

  test("change feed: a DV commit emits exactly its deleted rows as " +
    "row-level deletes; a keyed mirror converges to base minus subjects") {
    val path = freshTable()
    val q = spark.readStream
      .format("graft.streaming.ManifestStreamProvider")
      .option("changeFeed", "true").load(path)
      .writeStream.format("memory").queryName("dv_cdc").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dv_cdc").where(col("_change_type") === "insert")
        .count() == 7)
      Manifest.deleteWhere(spark, path, col("id").isin(3L, 6L))
      q.processAllAvailable()
      val dels = spark.table("dv_cdc")
        .where(col("_change_type") === "delete")
      assert(ids(dels) == Set(3L, 6L), "exactly the DV'd rows, no more")
      // keyed mirror: inserts minus deletes per id = the live table
      val mirror = spark.table("dv_cdc").groupBy("id")
        .agg(sum(when(col("_change_type") === "insert", 1)
          .otherwise(-1)).as("alive"))
        .where(col("alive") === 1)
      assert(ids(mirror) == snap(path))
    } finally q.stop()
  }

  test("change feed first batch on an already-DV'd table serves the " +
    "LIVE snapshot (deleted positions never insert)") {
    val path = freshTable()
    Manifest.deleteWhere(spark, path, col("id") === 7L)
    val q = spark.readStream
      .format("graft.streaming.ManifestStreamProvider")
      .option("changeFeed", "true").load(path)
      .writeStream.format("memory").queryName("dv_cdc_snap").start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("dv_cdc_snap")) == Set(1L, 2L, 3L, 4L, 5L, 6L))
      assert(spark.table("dv_cdc_snap")
        .where(col("_change_type") === "delete").count() == 0)
    } finally q.stop()
  }

  test("plain (append-only) stream REFUSES a mid-stream DV commit — " +
    "deleting already-served rows is unrepresentable; ignoreChanges " +
    "opts out; a fresh stream over the DV'd table just serves live rows") {
    val path = freshTable()
    val q = spark.readStream
      .format("graft.streaming.ManifestStreamProvider").load(path)
      .writeStream.format("memory").queryName("dv_plain").start()
    try {
      q.processAllAvailable()
      Manifest.deleteWhere(spark, path, col("id") === 1L)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("deleted rows") ||
        e.getCause.getMessage.contains("deleted rows"))
    } finally q.stop()
    val q2 = spark.readStream
      .format("graft.streaming.ManifestStreamProvider")
      .option("ignoreChanges", "true").load(path)
      .writeStream.format("memory").queryName("dv_plain2").start()
    try {
      q2.processAllAvailable()
      assert(ids(spark.table("dv_plain2")) == Set(2L, 3L, 4L, 5L, 6L, 7L),
        "snapshot batch = live rows only")
      Manifest.deleteWhere(spark, path, col("id") === 2L)
      q2.processAllAvailable() // ignoreChanges: skipped, no refusal
      assert(ids(spark.table("dv_plain2")) == Set(2L, 3L, 4L, 5L, 6L, 7L))
    } finally q2.stop()
  }

  private def dataFilesOnDisk(path: String): Set[String] = {
    val (fs, rootP) = Manifest.fsOf(spark, path)
    Manifest.listDataFiles(fs, rootP).toSet
  }

  test("MERGE with an empty source into an unpartitioned table publishes " +
    "no version, returns 0 rows and leaves no staged file behind") {
    val path = Files.createTempDirectory("graft_dv_empty").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1).write.parquet(path)
    Manifest.bootstrap(spark, path)
    val before = dataFilesOnDisk(path)
    val (v, matched, written) = Manifest.mergeDv(spark, path,
      Seq.empty[(Long, Long)].toDF("id", "v"), Seq("id"))
    assert((v, matched, written) == (1L, 0L, 0L))
    assert(Manifest.versions(spark, path) == Seq(1L))
    assert(dataFilesOnDisk(path) == before, "the empty staged batch is deleted")
  }

  test("a MERGE runs no count query: the batch's rows come from the " +
    "staged footers") {
    val path = freshTable()
    val batch = Seq((2L, "d1", 21L), (9L, "d4", 90L)).toDF("id", "day", "v")
    var out = (0L, 0L, 0L)
    val seen = SparkWatch.during(spark) {
      out = Manifest.mergeDv(spark, path, batch, Seq("id"), Seq("day"))
    }
    assert(out == (2L, 1L, 2L))
    // 7 when MERGE still counted its batch: the count query ran 2 (its
    // adaptive shuffle stage and its result)
    assert(seen.jobs == 5, s"${seen.jobs} jobs")
  }

  test("a MERGE that loses its slot re-plans only its DV: the batch staged " +
    "before the race publishes as is, exactly once, one row per key") {
    val path = freshTable()
    val v1Files = Manifest.filesAt(spark, path, 1L).toSet
    var stagedBeforeRace = Set.empty[String]
    val (v, matched, written) = RivalCommit.around(path)({
      stagedBeforeRace = dataFilesOnDisk(path) -- v1Files
      Manifest.mergeDv(spark, path,
        Seq((8L, "d4", 81L)).toDF("id", "day", "v"), Seq("id"), Seq("day"))
      ()
    }) {
      Manifest.mergeDv(spark, path,
        Seq((8L, "d4", 82L), (1L, "d1", 11L)).toDF("id", "day", "v"),
        Seq("id"), Seq("day"))
    }
    assert((v, matched, written) == (3L, 2L, 2L))
    val loserFiles = Manifest.filesAt(spark, path, 3L).toSet --
      Manifest.filesAt(spark, path, 2L)
    assert(stagedBeforeRace.nonEmpty && loserFiles == stagedBeforeRace,
      s"published $loserFiles, staged before the race $stagedBeforeRace")
    assert(dataFilesOnDisk(path) == Manifest.filesAt(spark, path, 3L).toSet,
      "no second staging of the batch and no orphan")
    val (fs, rootP) = Manifest.fsOf(spark, path)
    val dvsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(rootP,
      Manifest.DvDir)).map(s => s"${Manifest.DvDir}/${s.getPath.getName}").toSet
    assert(dvsOnDisk == Manifest.dvsAt(spark, path, 3L).toSet,
      "the lost attempt's DV artifact is discarded")
    val rows = Manifest.read(spark, path).select("id", "v").as[(Long, Long)]
      .collect().toSeq
    assert(rows.groupBy(_._1).forall(_._2.size == 1), s"duplicate key: $rows")
    assert(rows.toMap.get(8L).contains(82L) && rows.toMap.get(1L).contains(11L))
  }
}
