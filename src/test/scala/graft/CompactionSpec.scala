package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.Compaction

/** Small-file compaction of manifest tables: content-preserving,
  * bounded file counts, untouched leaves carried byte-identically. */
class CompactionSpec extends SparkTestBase {
  import spark.implicits._

  test("compaction shrinks a fragmented tree, preserves content exactly") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact").toString + "/t"
    val docs = graft.sources.Tables.documents(spark, sf)
    // fragment: ~20 files per lang partition
    docs.repartition(20).write.partitionBy("lang").parquet(path)
    Manifest.bootstrap(spark, path)
    // leaf -> (bytes, files) of the snapshot at version v
    def stats(v: Long): Map[String, (Long, Long)] = {
      val files = Manifest.filesAt(spark, path, v)
      val sizes = Manifest.fileSizes(spark, path, files)
      files.groupBy(Manifest.leafDirOf(_, Seq("lang"))).map {
        case (leaf, fls) => leaf -> ((fls.map(sizes).sum, fls.size.toLong))
      }
    }
    val before = stats(Manifest.current(spark, path).get._1)
    assert(before.nonEmpty && before.values.forall(_._2 >= 10),
      s"fixture not fragmented: $before")
    val expected = docs.collect().toSet

    // 64 KiB target → a handful of files per partition
    val v = Compaction.compactAtomicLeaves(spark, path, Seq("lang"),
      targetBytes = 64L * 1024)

    val after = stats(v)
    assert(after.keySet == before.keySet, "partition set changed")
    after.foreach { case (p, (bytes, files)) =>
      val target = math.max(1L, (before(p)._1 + 64 * 1024 - 1) / (64 * 1024))
      assert(files <= math.max(target, 1L) && files >= 1,
        s"$p: $files files for ${bytes}B (target $target)")
      assert(files < before(p)._2, s"$p did not shrink: $files")
    }
    // content round trip: exact same rows, column order restored by select
    val back = Manifest.read(spark, path)
      .select(docs.columns.map(col): _*).collect().toSet
    assert(back == expected)
  }

  test("a scoped run rewrites only the named partition; others stay byte-identical") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact2").toString + "/t"
    Seq((1L, "x", "en"), (3L, "z", "de")).toDF("id", "v", "lang")
      .write.partitionBy("lang").parquet(path)
    Seq((2L, "y", "en"), (4L, "w", "de")).toDF("id", "v", "lang")
      .write.mode("append").partitionBy("lang").parquet(path)
    def files(dir: String): Set[(String, Long)] =
      Option(new java.io.File(path, dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toSet
    // both leaves fragmented: only the predicate keeps de out
    assert(files("lang=en").size == 2 && files("lang=de").size == 2,
      "fixture not fragmented")
    val deBefore = files("lang=de")

    val v = Compaction.compactAtomicLeaves(spark, path, Seq("lang"),
      targetBytes = 1L << 30, partitionPredicate = Some("lang = 'en'"))

    // en compacted to one file; de's file names AND sizes are untouched
    assert(Manifest.filesAt(spark, path, v).count(_.startsWith("lang=en/")) == 1)
    assert(files("lang=de") == deBefore, "the scoped rewrite touched de")
    val back = Manifest.read(spark, path)
      .select("id", "v", "lang").as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "x", "en"), (2L, "y", "en"), (3L, "z", "de"),
      (4L, "w", "de")))
  }

  test("typed-looking partition values round-trip as directory strings") {
    // hour=00..02: inference would read these as INT 0..2 and the
    // rewrite would emit a SECOND hour=0.. directory family next to the
    // originals — every row then read twice. The raw-string rewrite
    // must keep the zero-padded names.
    val path = Files.createTempDirectory("compact4").toString + "/t"
    Seq((1L, "00"), (3L, "01"), (4L, "02"))
      .toDF("id", "hour").write.partitionBy("hour").parquet(path)
    Seq((2L, "00")).toDF("id", "hour")
      .write.mode("append").partitionBy("hour").parquet(path)
    def files00(): Int = new java.io.File(path, "hour=00").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files00() == 2, "fixture: hour=00 must be fragmented")
    Compaction.compactAtomicLeaves(spark, path, Seq("hour"),
      targetBytes = 1L << 30)
    assert(files00() == 1, "hour=00 must be rewritten")
    val dirs = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getName).toSet
    assert(dirs == Set("hour=00", "hour=01", "hour=02"),
      s"directory families changed: $dirs")
    val back = spark.read.parquet(path).select("id").as[Long].collect().toSet
    assert(back == Set(1L, 2L, 3L, 4L), "rows duplicated or lost")
  }

  test("incremental leaves compaction: already-compact leaves carry " +
    "forward with BYTE-IDENTICAL file names; only fragmented leaves " +
    "are rewritten; content and time travel are preserved") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact_incr").toString + "/t"
    val compactLeaf = (1L to 50L).map(i => (i, "a", "x"))
      .toDF("id", "w", "m")
    val fragLeaf = (51L to 100L).map(i => (i, "b", "x")).toDF("id", "w", "m")
    compactLeaf.coalesce(1).write.partitionBy("w", "m").parquet(path)
    fragLeaf.repartition(8).write.mode("append")
      .partitionBy("w", "m").parquet(path)
    Manifest.bootstrap(spark, path)
    val before = Manifest.current(spark, path).get._2
    assert(before.count(_.startsWith("w=a/")) == 1)
    assert(before.count(_.startsWith("w=b/")) >= 2, "fixture not fragmented")
    val expected = spark.read.parquet(path).select("id")
      .as[Long].collect().toSet

    val v = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0)
    val after = Manifest.filesAt(spark, path, v)
    assert(after.filter(_.startsWith("w=a/")) ==
      before.filter(_.startsWith("w=a/")),
      "the compact leaf must carry forward byte-identically (same names)")
    assert(after.count(_.startsWith("w=b/")) == 1,
      s"fragmented leaf must pack to its budget: $after")
    assert(after.toSet.intersect(
      before.filter(_.startsWith("w=b/")).toSet).isEmpty,
      "rewritten leaf files are fresh")
    assert(Manifest.read(spark, path).select("id").as[Long]
      .collect().toSet == expected, "content must be identical")
    // keepVersions=0: the pre-compaction version still replays
    assert(Manifest.readVersion(spark, path, v - 1).count() == 100L)
    // a second run is a NO-OP: everything is compact now
    assert(Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0) == v,
      "an all-compact table must not take an empty rewrite commit")
  }

  test("partitionPredicate (OPTIMIZE … WHERE) scopes the rewrite: " +
    "out-of-scope FRAGMENTED leaves stay untouched; a DV'd leaf " +
    "qualifies regardless of fragmentation; bad predicates are loud") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact_where").toString + "/t"
    (1L to 90L).map(i => (i, (i % 3 + 1).toString, "x"))
      .toDF("id", "w", "m").repartition(6)
      .write.partitionBy("w", "m").parquet(path)
    Manifest.bootstrap(spark, path)
    val before = Manifest.current(spark, path).get._2
    Seq("1", "2", "3").foreach(wv => assert(
      before.count(_.startsWith(s"w=$wv/")) >= 2, "fixture not fragmented"))

    val v = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0,
      partitionPredicate = Some("w = '1'"))
    val after = Manifest.filesAt(spark, path, v)
    assert(after.filter(_.startsWith("w=2/")) ==
      before.filter(_.startsWith("w=2/")), "w=2 is out of scope")
    assert(after.filter(_.startsWith("w=3/")) ==
      before.filter(_.startsWith("w=3/")), "w=3 is out of scope")
    assert(after.count(_.startsWith("w=1/")) == 1, "w=1 compacted")

    // merge-on-read debt: delete a few w=2 rows, then a scoped run on
    // w=2 — the leaf qualifies via its DV even at one file per leaf
    Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0,
      partitionPredicate = Some("w = '2'"))
    Manifest.deleteWhere(spark, path, col("id") === 4L)
    val preDv = Manifest.current(spark, path).get._2
    assert(preDv.count(_.startsWith("w=2/")) == 1)
    val v2 = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0,
      partitionPredicate = Some("w = '2'"))
    assert(Manifest.dvsAt(spark, path, v2).isEmpty,
      "the rewrite materialized the delete — no live DV refs remain")
    assert(Manifest.read(spark, path).where(col("id") === 4L).count() == 0L)
    assert(Manifest.read(spark, path).count() == 89L)

    // predicates referencing non-partition columns refuse loudly
    val e = intercept[IllegalArgumentException] {
      Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
        partitionPredicate = Some("id > 5"))
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("compaction coexists with a live writer: an interleaved APPEND " +
    "rebases into the rewrite (both commits survive); a concurrent " +
    "DELETE's new DV on a file being rewritten aborts loudly") {
    import graft.sources.Manifest
    // arm 1: append race → rebase, appended file stays live
    val path = Files.createTempDirectory("compact_race").toString + "/t"
    (1L to 40L).toSeq.toDF("id").repartition(8).write.parquet(path)
    Manifest.bootstrap(spark, path)                            // v1
    val (fs, rootP) = (new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(path))
    var racerFile: Seq[String] = Nil
    val v = Compaction.compactAtomicFlat(spark, path,
      targetBytes = 1L << 30, keepVersions = 0,
      afterStage = () => {
        // the streaming sink lands an append between stage and publish
        racerFile = Manifest.stageUniqueParts(spark, fs, rootP, Nil,
          Seq(999L).toDF("id"))
        val (cur, live) = Manifest.current(spark, path).get
        assert(Manifest.tryCommit(spark, path,
          live ++ racerFile, cur).contains(cur + 1))           // v2
      })
    assert(v == 3L, "compaction rebased onto the racer's commit")
    val after = Manifest.filesAt(spark, path, v)
    assert(racerFile.forall(after.contains),
      "the racer's appended file must survive the rewrite LIVE")
    assert(after.size == 2, s"1 packed + 1 appended: $after")
    assert(Manifest.read(spark, path).select("id").as[Long]
      .collect().toSet == (1L to 40L).toSet + 999L)

    // arm 2: DV race on a file being rewritten → loud abort, the
    // delete's commit stands, staged compaction files unreferenced
    val path2 = Files.createTempDirectory("compact_race2").toString + "/t"
    (1L to 40L).toSeq.toDF("id").repartition(8).write.parquet(path2)
    Manifest.bootstrap(spark, path2)
    intercept[java.util.ConcurrentModificationException] {
      Compaction.compactAtomicFlat(spark, path2,
        targetBytes = 1L << 30, keepVersions = 0,
        afterStage = () =>
          { Manifest.deleteWhere(spark, path2, col("id") === 1L); () })
    }
    assert(Manifest.read(spark, path2).select("id").as[Long]
      .collect().toSet == (2L to 40L).toSet,
      "the racer's delete stands; the aborted rewrite changed nothing")
    assert(Manifest.current(spark, path2).get._2.size == 8,
      "no staged compaction file leaked into the manifest")
  }

  test("two disjoint WHERE-scoped compactions race: both land (the " +
    "second rebases over the first's commit), every leaf ends compact, " +
    "content preserved") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact_race3").toString + "/t"
    (1L to 60L).map(i => (i, (i % 2).toString, "x"))
      .toDF("id", "w", "m").repartition(6)
      .write.partitionBy("w", "m").parquet(path)
    Manifest.bootstrap(spark, path)
    // racer A compacts w=0 INSIDE racer B's stage->publish window; B
    // compacts w=1 — their read sets are disjoint, so B must REBASE
    // over A's commit instead of failing
    var vA = -1L
    val vB = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0,
      partitionPredicate = Some("w = '1'"),
      afterStage = () => {
        vA = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
          targetBytes = 1L << 30, keepVersions = 0,
          partitionPredicate = Some("w = '0'"))
      })
    assert(vA == 2L && vB == 3L, s"both rewrites land: vA=$vA vB=$vB")
    val after = Manifest.filesAt(spark, path, vB)
    assert(after.count(_.startsWith("w=0/")) == 1 &&
      after.count(_.startsWith("w=1/")) == 1,
      s"both scopes compacted: $after")
    assert(Manifest.read(spark, path).select("id").as[Long]
      .collect().toSet == (1L to 60L).toSet)
  }

  test("the budget pass is log-served: with a stats sidecar covering " +
    "the live files, computing byte sizes performs NO per-file status " +
    "calls (counted through a wrapped FileSystem)") {
    import graft.sources.Manifest
    val dir = Files.createTempDirectory("compact_count").toString
    val path = dir + "/t"
    (1L to 60L).map(i => (i, (i % 2).toString)).toDF("id", "w")
      .repartition(15).write.partitionBy("w").parquet(path)
    Manifest.bootstrap(spark, path)
    Manifest.writeStats(spark, path, 1L) // records rows AND bytes
    val live = Manifest.current(spark, path).get._2
    assert(live.size >= 20, s"want many files, got ${live.size}")
    val truth = live.map(f =>
      f -> new java.io.File(path, f).length()).toMap

    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val countRoot = "countfs:" + path
    CountingFs.statusCalls.set(0)
    val served = Manifest.fileSizes(spark, countRoot, live)
    val calls = CountingFs.statusCalls.get()
    assert(served == truth, "log-served sizes must equal physical truth")
    // a handful of O(1) calls (manifest-dir exists, fs init probes)
    // are fine; the assertion is that the count does NOT scale with
    // the live-file count
    assert(calls <= 5 && calls < live.size / 2,
      s"budget pass must not status files one by one — $calls " +
        s"getFileStatus calls for ${live.size} files")
    // and OPTIMIZE's output is unchanged by the log-served budgets:
    // same packing as the physical truth implies
    val v = Compaction.compactAtomicFlat(spark, path,
      targetBytes = 1L << 30, keepVersions = 0)
    assert(Manifest.filesAt(spark, path, v).size == 1)
    assert(Manifest.read(spark, path).count() == 60L)
  }

  /** A `(w, m)`-partitioned manifest table: `files` files per leaf of
    * `rows` rows each, ids 1..; returns (path, ids). */
  private def fragmented(leaves: Seq[String], files: Int,
                         rows: Int): (String, Set[Long]) = {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact_bins").toString + "/t"
    val written = for {
      (w, li) <- leaves.zipWithIndex; f <- 0 until files
    } yield {
      val ids = (1 to rows).map(r => ((li * files + f) * rows + r).toLong)
      ids.map((_, w, "x")).toDF("id", "w", "m").coalesce(1)
        .write.mode("append").partitionBy("w", "m").parquet(path)
      ids
    }
    Manifest.bootstrap(spark, path)
    (path, written.flatten.toSet)
  }

  private def ids(path: String): Set[Long] =
    graft.sources.Manifest.read(spark, path).select("id").as[Long].collect().toSet

  test("a partitioned OPTIMIZE stages every bin in ONE Spark job whose " +
    "plan has no shuffle and no broadcast exchange") {
    import graft.sources.Manifest
    val (path, all) = fragmented(Seq("1", "2", "3"), files = 4, rows = 25)
    assert(Manifest.current(spark, path).get._2.size == 12)
    var v = 0L
    val seen = SparkWatch.during(spark) {
      v = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
        targetBytes = 1L << 30, keepVersions = 0)
    }
    // the salted shuffle + broadcast budget join it replaced ran 3 jobs
    assert(seen.jobs == 1, s"${seen.jobs} jobs")
    assert(seen.tasks == 3, s"one task per bin: ${seen.tasks} tasks")
    assert(seen.plans.exists(_.toString.contains("InsertIntoHadoopFsRelation")),
      s"the staging write's plan was not seen: ${seen.plans}")
    assert(seen.exchanges.isEmpty, s"exchanges: ${seen.exchanges}")
    assert(Manifest.filesAt(spark, path, v).size == 3, "one file per leaf")
    assert(ids(path) == all)
  }

  test("with a small targetBytes a leaf packs into min(budget, files) " +
    "files, largest file into the lightest bin; content is identical " +
    "and the previous version replays") {
    import graft.sources.Manifest
    val sizes = Map("a" -> 10L, "b" -> 7L, "c" -> 5L, "d" -> 4L, "e" -> 1L)
    assert(Compaction.pack(Seq("e", "d", "c", "b", "a"), sizes, 2) ==
      Seq(Seq("a", "d"), Seq("b", "c", "e")))
    assert(Compaction.pack(Seq("a", "b"), sizes, 5) == Seq(Seq("a"), Seq("b")))

    val (path, all) = fragmented(Seq("1"), files = 8, rows = 40)
    val (v0, live) = Manifest.current(spark, path).get
    val bytes = live.map(f => new java.io.File(path, f).length()).sum
    val target = bytes / 3
    val budget = (bytes + target - 1) / target
    assert(budget >= 3 && budget < live.size, s"budget $budget")
    val v = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = target, keepVersions = 0)
    val after = Manifest.filesAt(spark, path, v)
    assert(after.size == math.min(budget, live.size.toLong),
      s"${after.size} files for budget $budget: $after")
    assert(after.toSet.intersect(live.toSet).isEmpty)
    assert(ids(path) == all, "content must be identical")
    assert(Manifest.readVersion(spark, path, v0).select("id").as[Long]
      .collect().toSet == all, "the previous version replays")
  }

  test("a DV'd leaf whose rows are all deleted publishes no file for " +
    "that leaf") {
    import graft.sources.Manifest
    val (path, all) = fragmented(Seq("1", "2"), files = 1, rows = 10)
    Manifest.deleteWhere(spark, path, col("w") === "1")
    val v = Compaction.compactAtomicLeaves(spark, path, Seq("w", "m"),
      targetBytes = 1L << 30, keepVersions = 0)
    val after = Manifest.filesAt(spark, path, v)
    assert(after.nonEmpty && after.forall(_.startsWith("w=2/")),
      s"the emptied leaf must publish no file: $after")
    assert(Manifest.dvsAt(spark, path, v).isEmpty)
    assert(ids(path) == all.filter(_ > 10L))
  }

  test("compactAtomicFlat takes the same path: one job, no shuffle") {
    import graft.sources.Manifest
    val path = Files.createTempDirectory("compact_flat").toString + "/t"
    (1L to 80L).toDF("id").repartition(8).write.parquet(path)
    Manifest.bootstrap(spark, path)
    var v = 0L
    val seen = SparkWatch.during(spark) {
      v = Compaction.compactAtomicFlat(spark, path,
        targetBytes = 1L << 30, keepVersions = 0)
    }
    // the repartition(n) shuffle it replaced ran 2 jobs
    assert(seen.jobs == 1 && seen.tasks == 1, s"${seen.jobs} jobs, ${seen.tasks} tasks")
    assert(seen.exchanges.isEmpty, s"exchanges: ${seen.exchanges}")
    assert(Manifest.filesAt(spark, path, v).size == 1)
    assert(ids(path) == (1L to 80L).toSet)
  }
}

/** Local filesystem whose `getFileStatus` calls are counted — the
  * instrument behind the zero-per-file-status budget assertion. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getFileStatus(f: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    CountingFs.statusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingFs {
  val statusCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}
