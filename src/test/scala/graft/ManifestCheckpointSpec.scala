package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Manifest

/** Commit-log checkpointing + compaction (round-11 verdict #2, the
  * Delta `_last_checkpoint` design): a per-trigger streaming sink
  * commits forever, so without compaction every analysis lists
  * O(versions) names and the sidecar carry-forward re-reads every
  * sidecar ever written. checkpoint() consolidates a version +
  * sidecars under a name cleanLog() never drops while newest;
  * cleanLog() bounds the log; readers resolve checkpoint-or-manifest
  * transparently; replay below the cutoff fails loudly (the
  * retention-vs-lag contract). */
class ManifestCheckpointSpec extends SparkTestBase {
  import spark.implicits._

  private def logEntries(root: String): Seq[String] = {
    val dir = new java.io.File(root, Manifest.Dir)
    Option(dir.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq
  }

  private def withConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("1,000 commits with auto-checkpointing: the log stays bounded, " +
    "reads resolve through the checkpoint, pre-cutoff replay fails " +
    "loudly, stats carry-forward survives compaction") {
    val root = Files.createTempDirectory("graft_ckpt").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d2", 40L))
      .toDF("id", "day", "v").repartition(2)
      .write.partitionBy("day").parquet(root)
    Manifest.bootstrap(spark, root)
    Manifest.writeStats(spark, root, 1L)
    withConf("spark.graft.manifest.checkpointInterval" -> "50",
             "spark.graft.manifest.logRetention" -> "60") {
      val files = Manifest.current(spark, root).get._2
      // two merge-on-read deletes early: their DV refs must carry
      // through every later checkpoint's consolidated snapshot
      Manifest.deleteWhere(spark, root, col("id") === 2L)   // v2
      Manifest.deleteWhere(spark, root, col("id") === 3L)   // v3
      val live = Manifest.current(spark, root).get._2
      for (_ <- 1 to 1000) Manifest.commit(spark, root, live)
      assert(Manifest.current(spark, root).get._1 == 1003L)
      // BOUNDED: 1003 versions were committed, the log holds at most
      // ~retention manifests + sidecars + checkpoint + pointer — the
      // O(1)-per-analysis listing the round-11 verdict asked for
      val entries = logEntries(root)
      assert(entries.length < 200,
        s"log must be compacted, holds ${entries.length} entries")
      assert(entries.contains(Manifest.LastCheckpointFile))
      val ck = Manifest.lastCheckpoint(spark, root).get
      assert(ck === 1000L)
      // reads resolve: current snapshot, the checkpointed version
      // (manifest-1000 may be gone; checkpoint-1000 serves it), and
      // the DVs still apply everywhere
      def ids(df: DataFrame) = df.select("id").as[Long].collect().toSet
      assert(ids(Manifest.read(spark, root)) == Set(1L, 4L))
      assert(ids(Manifest.readVersion(spark, root, ck)) == Set(1L, 4L))
      assert(Manifest.dvsAt(spark, root, ck).nonEmpty,
        "DV refs must survive checkpoint consolidation")
      // below the cutoff: loud retention failure, never a guess
      assert(!Manifest.versions(spark, root).contains(5L))
      intercept[IllegalArgumentException] {
        Manifest.readVersion(spark, root, 5L)
      }
      // sidecar carry-forward survived compaction: the checkpoint
      // consolidated row counts, so COUNT still answers from the log
      Manifest.writeStats(spark, root,
        Manifest.current(spark, root).get._1)
      assert(Manifest.countRows(spark, root) == 2L)
      assert(files.nonEmpty) // (silence unused warning)
    }
  }

  test("a lagging reader inside retention resumes across the " +
    "checkpoint boundary; one lagging past it fails loudly") {
    val root = Files.createTempDirectory("graft_ckpt_rd").toString + "/t"
    Seq((1L, "d1", 10L)).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(root)
    Manifest.bootstrap(spark, root)
    withConf("spark.graft.manifest.checkpointInterval" -> "10",
             "spark.graft.manifest.logRetention" -> "15") {
      val live = Manifest.current(spark, root).get._2
      for (_ <- 1 to 25) Manifest.commit(spark, root, live) // v26 head
      // v26 head; checkpoint at 20; cutoff = min(20, 26-15+1=12) = 12
      assert(Manifest.lastCheckpoint(spark, root).contains(20L))
      import graft.streaming.ManifestStreamSource
      import org.apache.spark.sql.execution.streaming.runtime.LongOffset
      val schema = Manifest.read(spark, root).schema
      val src = new ManifestStreamSource(spark, root, schema,
        startVersion = 0L, ignoreChanges = false, changeFeed = false,
        commitVersions = false)
      // recorded offset 14 (inside retention, BELOW the checkpoint):
      // the diff (14, 26] resolves even though the range crosses the
      // compacted region's edge — noop commits, so zero new rows
      def toBatch(df: DataFrame): DataFrame =
        org.apache.spark.sql.GraftDatasetFactory.ofRows(spark,
          df.queryExecution.logical.transform {
            case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              lr.copy(isStreaming = false)
          })
      assert(toBatch(src.getBatch(Some(LongOffset(14L)), LongOffset(26L)))
        .count() == 0L)
      // recorded offset 5 (compacted away): loud retention error
      val e = intercept[IllegalStateException] {
        src.getBatch(Some(LongOffset(5L)), LongOffset(26L))
      }
      assert(e.getMessage.contains("not retained"), e.getMessage)
    }
  }

  test("merge-on-read streaming sink commits across checkpoint+clean " +
    "boundaries; a keyed CDF mirror resumes exactly-once after the log " +
    "was compacted under it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Files.createTempDirectory("graft_ckpt_stream").toString
    val root = s"$base/serve"
    val mirrorDir = s"$base/mirror"
    val readerCp = s"$base/reader_cp"
    val sinkCp = s"$base/sink_cp"
    withConf("spark.graft.manifest.checkpointInterval" -> "5",
             "spark.graft.manifest.logRetention" -> "30") {
      val input = MemoryStream[(Long, String, Long)](spark)
      val sink = graft.streaming.StreamingUpsert.run(
        input.toDF().toDF("id", "day", "v"), root, sinkCp, "day",
        Seq("id"), mergeOnRead = true)
      def push(from: Long, n: Int, day: String): Unit = {
        input.addData((from until from + n).map(i => (i, day, i * 10)): _*)
        sink.processAllAvailable()
      }
      try {
        // 12 micro-batches: new keys + updates of old ones (real
        // merge-on-read: DV per batch after the first)
        for (b <- 0 until 12)
          push(b * 3, 5, s"d${b % 3}") // overlaps the previous batch
        assert(Manifest.lastCheckpoint(spark, root).exists(_ >= 5L),
          "the sink's own commits must have auto-checkpointed")

        // keyed CDF mirror, phase 1
        val schema = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Manifest.read(spark, root).schema)
        schema.write.mode("overwrite").parquet(mirrorDir)
        val mirrorSchema = schema.schema
        def runMirror(): Unit = {
          val q = spark.readStream.schema(mirrorSchema)
            .format("graft.streaming.ManifestStreamProvider")
            .option("changeFeed", "true").load(root)
            .writeStream.option("checkpointLocation", readerCp)
            .foreachBatch { (b: DataFrame, _: Long) =>
              val cur = b.sparkSession.read.schema(mirrorSchema)
                .parquet(mirrorDir).localCheckpoint(true)
              val dataCols = mirrorSchema.fieldNames.map(col).toSeq
              val del = b.where(col("_change_type") === "delete")
                .select("id").distinct()
              val ins = b.where(col("_change_type") === "insert")
                .select(dataCols: _*)
              cur.join(del, Seq("id"), "left_anti").unionByName(ins)
                .write.mode("overwrite").parquet(mirrorDir)
              ()
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        runMirror()
        def table(): Set[(Long, Long)] = Manifest.read(spark, root)
          .select("id", "v").as[(Long, Long)].collect().toSet
        def mirror(): Set[(Long, Long)] =
          spark.read.schema(mirrorSchema).parquet(mirrorDir)
            .select("id", "v").as[(Long, Long)].collect().toSet
        assert(mirror() == table(), "phase-1 mirror must converge")

        // 10 more batches land while the reader is DOWN — the log
        // checkpoints and compacts under it (retention covers the lag)
        for (b <- 12 until 22) push(b * 3, 5, s"d${b % 3}")
        runMirror() // resume from readerCp, across the boundary
        assert(mirror() == table(),
          "resumed mirror must converge exactly-once across compaction")
        val entries = logEntries(root)
        assert(entries.length < 250,
          s"sink log must stay bounded, holds ${entries.length}")
      } finally sink.stop()
    }
  }

  test("a malformed checkpointInterval conf value must NOT be reported " +
    "as a commit failure — the commit is already published when log " +
    "maintenance runs") {
    val root = Files.createTempDirectory("graft_ckpt_badconf").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(root)
    Manifest.bootstrap(spark, root)
    withConf("spark.graft.manifest.checkpointInterval" -> "not-a-number") {
      val live = Manifest.current(spark, root).get._2
      val v = Manifest.tryCommit(spark, root, live, 1L)
      assert(v.contains(2L),
        "tryCommit must succeed; the conf parse failure is maintenance")
      assert(Manifest.current(spark, root).get._1 == 2L)
    }
  }

  test("a lost _last_checkpoint pointer race is benign: the loser's " +
    "checkpoint file published, and the command succeeds") {
    val root = Files.createTempDirectory("graft_ckpt_race").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(root)
    Manifest.bootstrap(spark, root)
    val live = Manifest.current(spark, root).get._2
    Manifest.commit(spark, root, live) // v2
    // a rival already advanced the pointer PAST what our checkpoint
    // would write — our checkpoint(v1) must still succeed (its file
    // publishes; the pointer stays at the newer version)
    Manifest.checkpoint(spark, root, Some(2L))
    assert(Manifest.lastCheckpoint(spark, root).contains(2L))
    Manifest.checkpoint(spark, root, Some(1L)) // must not throw/regress
    assert(Manifest.lastCheckpoint(spark, root).contains(2L),
      "the pointer never regresses")
  }

  test("a CHECK constraint declared in the log SURVIVES checkpoint + " +
    "cleanLog churn: the gate still refuses after the sidecar's own " +
    "version left the retention window") {
    val root = Files.createTempDirectory("graft_ckpt_chk").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(root)
    Manifest.bootstrap(spark, root)                            // v1
    Manifest.writeChecks(spark, root, 1L, Map("v_pos" -> "v > 0"))
    withConf("spark.graft.manifest.checkpointInterval" -> "20",
             "spark.graft.manifest.logRetention" -> "25") {
      val live = Manifest.current(spark, root).get._2
      for (_ <- 1 to 100) Manifest.commit(spark, root, live)
    }
    assert(Manifest.versions(spark, root).head > 1L,
      "the churn must have compacted v1 away")
    assert(Manifest.checksAt(spark, root,
      Manifest.current(spark, root).get._1) == Map("v_pos" -> "v > 0"),
      "the effective checks sidecar survives log compaction")
    val (fs, rootP) = (new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(root))
    val bad = Manifest.stageUniqueParts(spark, fs, rootP, Nil,
      Seq((9L, -5L)).toDF("id", "v"))
    val before = Manifest.current(spark, root).get
    intercept[IllegalStateException] {
      Manifest.commit(spark, root, before._2 ++ bad)
    }
    assert(Manifest.current(spark, root).get == before)
  }

  test("versionAtTimestamp stays correct when a version is served only " +
    "by its checkpoint: the checkpoint carries the ORIGINAL publish " +
    "time, so a late checkpoint can't skip the version") {
    val root = Files.createTempDirectory("graft_ckpt_ts").toString + "/t"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(root)
    Manifest.bootstrap(spark, root)                            // v1
    Thread.sleep(1200)
    val tMid = System.currentTimeMillis()                      // v1 era
    Thread.sleep(1200)
    val live = Manifest.current(spark, root).get._2
    Manifest.commit(spark, root, live)                         // v2
    Thread.sleep(1200)
    // the checkpoint of v1 is written LONG after v2 published — its
    // own mtime would be non-monotone vs v2's manifest stamp
    Manifest.checkpoint(spark, root, Some(1L))
    // simulate cleanLog having dropped manifest-1 (checkpoint serves)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root,
      Manifest.Dir + "/manifest-" + "0" * 19 + "1"), false)
    assert(Manifest.versions(spark, root) == Seq(1L, 2L))
    assert(Manifest.versionAtTimestamp(spark, root, tMid) == 1L,
      "a timestamp inside v1's era must resolve to v1, not error out " +
        "or fall to an older snapshot, even when only the (later-" +
        "written) checkpoint file serves v1")
  }
}
