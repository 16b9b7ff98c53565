package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.Compaction
import graft.operators.{Erasure, Upsert}
import graft.sources.Manifest

/** The atomic commit layer: snapshot reads pin to the published
  * manifest, stage-without-commit (= a crash before the rename) leaves
  * readers on the OLD snapshot exactly, commit flips them to the NEW
  * snapshot exactly, vacuum only ever removes unreferenced bytes. Then
  * the three consumers — atomic MERGE, atomic erasure (incl. the
  * fully-erased-partition guarantee), atomic compaction. */
class ManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String = {
    val path = Files.createTempDirectory("graft_manifest").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    path
  }

  /** Stage `df` (rows of partition `day` only) as uniquely named files
    * and return the publish list that replaces that partition: the
    * live files outside it plus the staged ones. Nothing is committed. */
  private def stageReplacing(path: String,
                             df: org.apache.spark.sql.DataFrame,
                             day: String): Seq[String] = {
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val live = Manifest.current(spark, path).get._2
    live.filterNot(_.startsWith(s"day=$day/")) ++
      Manifest.stageUniqueParts(spark, fs, rootP, Seq("day"), df)
  }

  private def snap(path: String): Set[(Long, String, Long)] =
    Manifest.read(spark, path)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet

  test("bootstrap snapshot equals the plain directory read; idempotent") {
    val path = freshTable()
    Manifest.bootstrap(spark, path) // second call: no new version
    assert(Manifest.current(spark, path).get._1 == 1L)
    assert(snap(path) ==
      Set((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L)))
  }

  test("listDataFiles ignores hidden entries: _temporary task-attempt " +
    "debris from a crashed non-manifest write is never swept into a " +
    "bootstrap, and partition ops never see it") {
    val path = freshTable()
    // simulate a foreign writer's crash: a Spark committer leaves
    // task-attempt parquet under _temporary/, plus stray dotfiles
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmpDir = new org.apache.hadoop.fs.Path(
      path, "_temporary/0/task_0/day=d1")
    fs.mkdirs(tmpDir)
    Seq((99L, "d1", 999L)).toDF("id", "day", "v").coalesce(1)
      .write.parquet(s"$path/_temporary/stage")
    val dot = new org.apache.hadoop.fs.Path(path, "day=d1/.hidden.parquet")
    val out = fs.create(dot, true); out.write(1); out.close()
    val listed = Manifest.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
    assert(listed.forall(f => !f.contains("_temporary") &&
      !f.split("/").exists(s => s.startsWith(".") || s.startsWith("_"))),
      s"hidden debris leaked into the listing: $listed")
    // partitionOf never throws on the listing, and a re-bootstrap of a
    // fresh manifest over this tree publishes only real data
    listed.foreach(f => Manifest.partitionOf(f, "day"))
    assert(snap(path) ==
      Set((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L)))
  }

  test("crash before publish: staged files invisible, old snapshot exact; " +
    "commit flips atomically; vacuum reclaims only garbage") {
    val path = freshTable()
    val before = snap(path)
    // stage a replacement of d1 (id 1 updated, id 2 dropped) and STOP —
    // the simulated crash between data write and manifest publish
    val staged = stageReplacing(path,
      Seq((1L, "d1", 111L)).toDF("id", "day", "v"), "d1")
    // the RAW directory read now sees mixed old+new rows in d1 ...
    val raw = spark.read.parquet(path)
      .filter(col("day") === "d1").count()
    assert(raw == 3, s"raw read sees old+staged rows: $raw")
    // ... but the manifest snapshot is byte-for-byte the old table
    assert(snap(path) == before, "old snapshot must survive the crash")
    // publish: the new snapshot appears in one step
    Manifest.commit(spark, path, staged)
    assert(snap(path) ==
      Set((1L, "d1", 111L), (3L, "d2", 30L), (4L, "d3", 40L)))
    // vacuum removes the replaced d1 files; snapshot unchanged
    Manifest.vacuum(spark, path)
    assert(snap(path) ==
      Set((1L, "d1", 111L), (3L, "d2", 30L), (4L, "d3", 40L)))
    // and the physical tree is now exactly the live set
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val phys = Manifest.listDataFiles(fs, new org.apache.hadoop.fs.Path(path))
    assert(phys.toSet == Manifest.current(spark, path).get._2.toSet)
  }

  test("stageUniqueParts with no partition columns: uniquely named " +
    "files straight under the root, no _graft_stage left behind") {
    val path = Files.createTempDirectory("graft_mflat").toString + "/t"
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").write.parquet(path)
    Manifest.bootstrap(spark, path)
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = Manifest.stageUniqueParts(spark, fs, rootP, Nil,
      Seq((3L, 30L)).toDF("id", "v").coalesce(1))
    assert(staged.size == 1 &&
      staged.forall(_.matches("stage-[0-9a-f-]{36}-part-\\d+\\.parquet")),
      s"flat staged names: $staged")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(rootP, "_graft_stage")),
      "the scratch root must not outlive the stage")
    Manifest.commit(spark, path, Manifest.current(spark, path).get._2 ++ staged)
    assert(Manifest.read(spark, path).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("atomic MERGE: semantics of upsert; old-or-new never mixed") {
    val path = freshTable()
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((3L, "d2", 333L), (6L, "d4", 60L)).toDF("id", "day", "v"),
      Seq("id"))
    assert(snap(path) == Set((1L, "d1", 10L), (2L, "d1", 20L),
      (3L, "d2", 333L), (4L, "d3", 40L), (6L, "d4", 60L)))
    // bootstrap-from-nothing path
    val fresh = Files.createTempDirectory("graft_mup").toString + "/t"
    Upsert.upsertPartitionScopedAtomic(spark, fresh, Seq("day"),
      Seq((9L, "d9", 90L)).toDF("id", "day", "v"), Seq("id"))
    assert(snap(fresh) == Set((9L, "d9", 90L)))
  }

  test("atomic erasure: fully-erased partition is GONE at publish time " +
    "(no delete window); ledger rows incl. zero-match subjects") {
    val path = freshTable()
    val ledger = Files.createTempDirectory("graft_mled").toString + "/l"
    // subjects: id 3 (all of d2 — fully-erased partition), id 1 (part of
    // d1), id 99 (matches nothing)
    Erasure.erasePartitionScopedAtomic(spark, path, Seq("day"),
      Seq(3L, 1L, 99L).toDF("id"), Seq("id"), batchId = "b1",
      ledgerPath = Some(ledger))
    assert(snap(path) == Set((2L, "d1", 20L), (4L, "d3", 40L)))
    // the fully-erased partition is absent from the manifest AND (after
    // the vacuum inside the call) from disk
    assert(!new java.io.File(s"$path/day=d2").exists(), "d2 reclaimed")
    val led = spark.read.parquet(ledger)
      .select(col("id"), col("n_rows_erased"))
      .as[(Long, Long)].collect().toSet
    assert(led == Set((3L, 1L), (1L, 1L), (99L, 0L)))
  }

  test("time travel: readVersion replays each committed snapshot; a " +
    "MERGE's change feed falls out of SnapshotDiff over two versions; " +
    "retention-aware vacuum keeps replayability, then reclaims it") {
    val path = freshTable() // version 1
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((1L, "d1", 111L), (6L, "d4", 60L)).toDF("id", "day", "v"),
      Seq("id")) // version 2 (vacuum inside keeps only v2 — rebuild below)
    // rebuild a 2-version history without the auto-vacuum: stage+commit
    val v2 = Manifest.current(spark, path).get._1
    val after = Seq((1L, "d1", 111L), (2L, "d1", 20L), (3L, "d2", 30L),
      (4L, "d3", 40L), (6L, "d4", 60L))
    assert(snap(path) == after.toSet)
    // the upsert's internal vacuum dropped v1 (default retention 1):
    // readVersion must refuse loudly, not replay a hollow manifest
    intercept[IllegalArgumentException](
      Manifest.readVersion(spark, path, v2 - 1))
    // now a retained history: commit another change, vacuum keep=2
    val staged = stageReplacing(path,
      Seq((4L, "d3", 444L)).toDF("id", "day", "v"), "d3")
    val v3 = Manifest.commit(spark, path, staged)
    Manifest.vacuum(spark, path, keepVersions = 2)
    // both retained versions replay byte-identically
    def rows(v: Long) = Manifest.readVersion(spark, path, v)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet
    assert(rows(v2) == after.toSet)
    assert(rows(v3) == after.toSet - ((4L, "d3", 40L)) + ((4L, "d3", 444L)))
    // the commit's CHANGE FEED: SnapshotDiff across the two versions
    import graft.operators.SnapshotDiff
    val feed = SnapshotDiff.diff(
      Manifest.readVersion(spark, path, v2),
      Manifest.readVersion(spark, path, v3),
      col("id"), col("v"))
      .as[(Long, String)].collect().toMap
    assert(feed(4L) == "changed" &&
      feed.count(_._2 == "unchanged") == 4, feed.toString)
    // tighten retention to 1: v2 is reclaimed, v3 still serves
    Manifest.vacuum(spark, path, keepVersions = 1)
    intercept[IllegalArgumentException](Manifest.readVersion(spark, path, v2))
    assert(snap(path) == rows(v3))
  }

  test("commit-log row-count stats: COUNT answered with ZERO data IO — " +
    "carry-forward across a merge, partition-predicate sums, and the " +
    "proof by deleted data file") {
    val path = freshTable()
    val v1 = Manifest.current(spark, path).get._1
    Manifest.writeStats(spark, path, v1)
    assert(Manifest.countRows(spark, path) == 4L)
    assert(Manifest.countRows(spark, path, Some("day"), _ == "d1") == 2L)
    // merge updates d1 and adds d4: stats for v2 count ONLY the new
    // files (carry-forward is correctness-visible: totals must be exact)
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((1L, "d1", 111L), (9L, "d4", 90L)).toDF("id", "day", "v"),
      Seq("id"), keepVersions = 10)
    val v2 = Manifest.current(spark, path).get._1
    Manifest.writeStats(spark, path, v2)
    assert(Manifest.countRows(spark, path) == 5L)
    assert(Manifest.countRows(spark, path, Some("day"), _ == "d4") == 1L)
    // the zero-IO proof: physically delete a data file — the manifest
    // READ now fails, but the log-answered count is untouched
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val victim = Manifest.current(spark, path).get._2.head
    fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), victim), false)
    intercept[Exception](Manifest.read(spark, path).count())
    assert(Manifest.countRows(spark, path) == 5L,
      "count must come from the commit log, not the data files")
  }

  test("model check: a random interleaving of staged, committed, and " +
    "vacuumed partition replacements never shows a reader anything but " +
    "the last COMMITTED state") {
    val rnd = new scala.util.Random(7)
    val path = Files.createTempDirectory("graft_mmodel").toString + "/t"
    // model: partition value -> rows (id, v); commit 1 = bootstrap
    var model = Map(
      "p0" -> Set((1L, 10L), (2L, 20L)),
      "p1" -> Set((3L, 30L)))
    model.foreach { case (p, rows) =>
      rows.toSeq.map { case (id, v) => (id, p, v) }.toDF("id", "day", "v")
        .write.mode("append").partitionBy("day").parquet(path)
    }
    Manifest.bootstrap(spark, path)
    def snapNow(): Map[String, Set[(Long, Long)]] =
      Manifest.read(spark, path)
        .select(col("day").cast("string"), col("id"), col("v"))
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    var nextId = 100L
    (1 to 12).foreach { step =>
      val p = s"p${rnd.nextInt(3)}"
      val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
        nextId += 1; (nextId, p, nextId * 10)
      }
      val staged = stageReplacing(path, rows.toDF("id", "day", "v"), p)
      if (rnd.nextBoolean()) {
        // crash before publish: staged files exist, model unchanged
      } else {
        Manifest.commit(spark, path, staged)
        model = model - p + (p -> rows.map(r => (r._1, r._3)).toSet)
        if (rnd.nextBoolean())
          Manifest.vacuum(spark, path, keepVersions = 1 + rnd.nextInt(2))
      }
      assert(snapNow() == model.filter(_._2.nonEmpty),
        s"step $step: snapshot diverged from the committed model")
    }
  }

  test("commit CAS: exactly one of two racers for the same version slot " +
    "wins; the loser sees None, never a silent overwrite") {
    val path = freshTable()
    val base = Manifest.current(spark, path).get._1
    val files = Manifest.current(spark, path).get._2
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        barrier.await()
        if (Manifest.tryCommit(spark, path, files, base).isDefined)
          wins.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get == 1, s"expected exactly one CAS winner, got ${wins.get}")
    assert(Manifest.versions(spark, path) == Seq(1L, 2L))
    // a third attempt against the stale base loses without damage
    assert(Manifest.tryCommit(spark, path, files, base).isEmpty)
    assert(Manifest.versions(spark, path) == Seq(1L, 2L))
  }

  test("concurrent replacement, DISJOINT partitions: the loser rebases " +
    "onto the winner's commit — both land, versions linear, no row lost") {
    val path = freshTable()
    // rival replaces d2 in the stage→publish window of our d1 replacement
    val rival: () => Unit = () => {
      val v = Manifest.commitPartitionReplacementCas(spark, path, "day",
        Seq((3L, "d2", 333L)).toDF("id", "day", "v"), Seq("d2"))
      assert(v == 2L): Unit
    }
    val v = Manifest.commitPartitionReplacementCas(spark, path, "day",
      Seq((1L, "d1", 111L), (2L, "d1", 222L)).toDF("id", "day", "v"),
      Seq("d1"), afterStage = rival)
    assert(v == 3L, s"loser must rebase to the NEXT slot, got $v")
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(snap(path) == Set((1L, "d1", 111L), (2L, "d1", 222L),
      (3L, "d2", 333L), (4L, "d3", 40L)))
    // time travel still replays the intermediate state exactly
    assert(Manifest.readVersion(spark, path, 2L)
      .select(col("id"), col("day").cast("string"), col("v"))
      .as[(Long, String, Long)].collect().toSet ==
      Set((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 333L), (4L, "d3", 40L)))
  }

  test("concurrent replacement, OVERLAPPING partition: the loser ABORTS " +
    "(stale read would drop the winner's rows); staged files stay " +
    "unreferenced and vacuum reclaims them") {
    val path = freshTable()
    val rival = () => {
      Manifest.commitPartitionReplacementCas(spark, path, "day",
        Seq((9L, "d1", 900L)).toDF("id", "day", "v"), Seq("d1")): Unit
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      Manifest.commitPartitionReplacementCas(spark, path, "day",
        Seq((1L, "d1", 111L)).toDF("id", "day", "v"), Seq("d1"),
        afterStage = rival)
    }
    assert(ex.getMessage.contains("d1"))
    // winner's commit is the table; the aborted writer changed nothing
    assert(Manifest.versions(spark, path) == Seq(1L, 2L))
    assert(snap(path) == Set((9L, "d1", 900L), (3L, "d2", 30L),
      (4L, "d3", 40L)))
    // the aborted stage left orphan bytes; vacuum removes them and the
    // snapshot is unchanged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val beforeVacuum = Manifest.listDataFiles(fs,
      new org.apache.hadoop.fs.Path(path))
    assert(beforeVacuum.exists(_.contains("stage-")),
      s"expected orphaned staged files, got $beforeVacuum")
    Manifest.vacuum(spark, path)
    val afterVacuum = Manifest.listDataFiles(fs,
      new org.apache.hadoop.fs.Path(path))
    assert(afterVacuum.toSet ==
      Manifest.current(spark, path).get._2.toSet,
      "vacuum must leave exactly the live set")
    assert(snap(path) == Set((9L, "d1", 900L), (3L, "d2", 30L),
      (4L, "d3", 40L)))
  }

  test("vacuum grace window: a racing writer's staged-but-uncommitted " +
    "files survive vacuum inside minAgeMs; an aged orphan is reclaimed") {
    val path = freshTable()
    // orphan staged bytes no manifest references (the racer's window)
    Seq((9L, "d1", 900L)).toDF("id", "day", "v").coalesce(1)
      .write.mode("append").partitionBy("day").parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rootP = new org.apache.hadoop.fs.Path(path)
    val live = Manifest.current(spark, path).get._2.toSet
    val orphans = Manifest.listDataFiles(fs, rootP).filterNot(live)
    assert(orphans.nonEmpty)
    // grace window covers the young orphan: vacuum must NOT delete it —
    // an ungated vacuum here would make the racer publish dangling paths
    Manifest.vacuum(spark, path, keepVersions = 1, minAgeMs = 3600000L)
    assert(Manifest.listDataFiles(fs, rootP).filterNot(live) == orphans,
      "staged files inside the grace window must survive")
    // age the orphan past the cutoff; now it is reclaimable garbage
    orphans.foreach { rel =>
      fs.setTimes(new org.apache.hadoop.fs.Path(rootP, rel),
        System.currentTimeMillis() - 7200000L, -1)
    }
    Manifest.vacuum(spark, path, keepVersions = 1, minAgeMs = 3600000L)
    assert(Manifest.listDataFiles(fs, rootP).filterNot(live).isEmpty,
      "aged orphans must be reclaimed")
    assert(snap(path) ==
      Set((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L)))
  }

  /** Faked object store whose ONLY atomic primitive is a conditional
    * put (`If-None-Match: *`) — no rename, no hard link: the JVM-global
    * lock plays the store's internal serialization of puts to one key,
    * and a losing put changes nothing at the target. Exactly the S3
    * contract the [[graft.sources.CommitClaimer]] seam exists for. */
  private class ConditionalPutStore extends graft.sources.CommitClaimer {
    private val lock = new Object
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    override def claim(fs: org.apache.hadoop.fs.FileSystem,
                       tmp: org.apache.hadoop.fs.Path,
                       target: org.apache.hadoop.fs.Path): Boolean = {
      val won = lock.synchronized {
        if (fs.exists(target)) false
        else {
          // the conditional PUT: upload the staged bytes as the target
          // object in one shot, iff absent
          org.apache.hadoop.fs.FileUtil.copy(fs, tmp, fs, target,
            false, fs.getConf)
          true
        }
      }
      if (won) wins.incrementAndGet() else losses.incrementAndGet()
      fs.delete(tmp, false)
      won
    }
  }

  test("the commit protocol holds on a faked object store whose only " +
    "atomic primitive is a conditional put: one CAS winner, stale " +
    "attempts lose, disjoint rebases, overlap aborts, group flips") {
    val store = new ConditionalPutStore
    Manifest.withClaimer(store) {
      // exactly-one-winner under a true thread race
      val path = freshTable()
      val base = Manifest.current(spark, path).get._1
      val files = Manifest.current(spark, path).get._2
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          barrier.await()
          if (Manifest.tryCommit(spark, path, files, base).isDefined)
            wins.incrementAndGet()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get == 1, s"one conditional-put winner, got ${wins.get}")
      assert(Manifest.tryCommit(spark, path, files, base).isEmpty)
      assert(Manifest.versions(spark, path) == Seq(1L, 2L))
      // loser path DISJOINT: rebase onto the rival's commit
      val p2 = freshTable()
      val rival: () => Unit = () => {
        Manifest.commitPartitionReplacementCas(spark, p2, "day",
          Seq((3L, "d2", 333L)).toDF("id", "day", "v"), Seq("d2")): Unit
      }
      val v = Manifest.commitPartitionReplacementCas(spark, p2, "day",
        Seq((1L, "d1", 111L)).toDF("id", "day", "v"), Seq("d1"),
        afterStage = rival)
      assert(v == 3L)
      assert(snap(p2) == Set((1L, "d1", 111L), (3L, "d2", 333L),
        (4L, "d3", 40L)))
      // loser path OVERLAP: abort, winner's data intact
      val p3 = freshTable()
      val rival3 = () => {
        Manifest.commitPartitionReplacementCas(spark, p3, "day",
          Seq((9L, "d1", 900L)).toDF("id", "day", "v"), Seq("d1")): Unit
      }
      intercept[java.util.ConcurrentModificationException] {
        Manifest.commitPartitionReplacementCas(spark, p3, "day",
          Seq((1L, "d1", 111L)).toDF("id", "day", "v"), Seq("d1"),
          afterStage = rival3)
      }
      assert(snap(p3) == Set((9L, "d1", 900L), (3L, "d2", 30L),
        (4L, "d3", 40L)))
      // the group flip publishes through the same conditional put
      val meta = Files.createTempDirectory("graft_cput_meta").toString
      graft.sources.ManifestGroup.flip(spark, meta,
        Map(graft.sources.ManifestGroup.normKey(p3) ->
          Manifest.current(spark, p3).get._1))
      assert(graft.sources.ManifestGroup.versions(spark, meta) == Seq(1L))
    }
    assert(store.wins.get > 0, "the faked store must have served claims")
    assert(store.losses.get > 0,
      "the race cases must have exercised the losing conditional put")
  }

  test("true thread race on disjoint replacements: both commit, state " +
    "is the union, versions stay linear under any interleaving") {
    val path = freshTable()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(day: String, id: Long, v: Long) = new Thread(() => {
      try {
        barrier.await()
        Manifest.commitPartitionReplacementCas(spark, path, "day",
          Seq((id, day, v)).toDF("id", "day", "v"), Seq(day)): Unit
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(racer("d2", 3L, 333L), racer("d3", 4L, 444L))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racers must both succeed: ${errs.peek()}")
    assert(Manifest.versions(spark, path) == Seq(1L, 2L, 3L))
    assert(snap(path) == Set((1L, "d1", 10L), (2L, "d1", 20L),
      (3L, "d2", 333L), (4L, "d3", 444L)))
  }

  test("atomic compaction: content identical, touched partition's file " +
    "count shrinks, untouched partition files untouched") {
    val path = Files.createTempDirectory("graft_mcmp").toString + "/t"
    // d1 fragmented into 4 files; d2 a single file
    (1 to 4).foreach { i =>
      Seq((i.toLong, "d1", i * 10L)).toDF("id", "day", "v")
        .write.mode("append").partitionBy("day").parquet(path)
    }
    Seq((9L, "d2", 90L)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    val before = snap(path)
    val d2Files = new java.io.File(s"$path/day=d2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    Compaction.compactAtomicLeaves(spark, path, Seq("day"),
      targetBytes = 1L << 30, partitionPredicate = Some("day = 'd1'"))
    assert(snap(path) == before, "compaction preserves content")
    val d1After = new java.io.File(s"$path/day=d1")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(d1After.length == 1, s"d1 compacted to 1 file: ${d1After.length}")
    val d2After = new java.io.File(s"$path/day=d2")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(d2After == d2Files, "untouched partition keeps its files")
  }
}
