package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.sources.Manifest

/** Streaming read of a manifest table: offsets are commit versions,
  * each micro-batch serves exactly the files a version range added,
  * replacement commits refuse by default (append-only contract),
  * checkpoints resume with no duplicates. */
class ManifestStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val Fmt = "graft.streaming.ManifestStreamProvider"

  /** day-partitioned manifest table with 4 d1 rows + 2 d2 rows. */
  private def mkRoot(): String = {
    val root = Files.createTempDirectory("graft_mstream").toString + "/t"
    ((0 until 4).map(i => (s"u$i", "d1")) ++ Seq(("v0", "d2"), ("v1", "d2")))
      .toDF("uid", "day").repartition(2)
      .write.partitionBy("day").parquet(root)
    Manifest.bootstrap(spark, root)
    root
  }

  /** Append-only commit: new rows land in a brand-new partition via
    * the CAS path (touched = only that partition → no file removed). */
  private def appendDay(root: String, day: String, uids: Seq[String]): Unit =
    Manifest.commitPartitionReplacementCas(spark, root, "day",
      uids.map((_, day)).toDF("uid", "day"), touched = Seq(day))

  private def startMem(root: String, name: String,
                       opts: Map[String, String] = Map.empty): StreamingQuery =
    spark.readStream.format(Fmt).options(opts).load(root)
      .writeStream.format("memory").queryName(name).start()

  test("first batch = current snapshot; each commit streams exactly once") {
    val root = mkRoot()
    val q = startMem(root, "ms_snap")
    try {
      q.processAllAvailable()
      assert(spark.table("ms_snap").count() == 6)
      appendDay(root, "d3", Seq("w0", "w1", "w2"))
      q.processAllAvailable()
      val got = spark.table("ms_snap").select("uid").as[String]
        .collect().sorted.toSeq
      assert(got.count(_.startsWith("w")) == 3, got.toString)
      assert(got.size == 9, "no row served twice")
      appendDay(root, "d4", Seq("x0"))
      q.processAllAvailable()
      assert(spark.table("ms_snap").count() == 10)
    } finally q.stop()
  }

  test("startingVersion=latest streams only post-start commits") {
    val root = mkRoot()
    val q = startMem(root, "ms_latest", Map("startingVersion" -> "latest"))
    try {
      q.processAllAvailable()
      assert(spark.table("ms_latest").count() == 0,
        "history must be skipped")
      appendDay(root, "d3", Seq("w0", "w1"))
      q.processAllAvailable()
      assert(spark.table("ms_latest").select("uid").as[String]
        .collect().sorted.toSeq == Seq("w0", "w1"))
    } finally q.stop()
  }

  test("a replacement commit refuses by default; ignoreChanges serves the rewrite") {
    val root = mkRoot()
    val q = startMem(root, "ms_repl")
    try {
      q.processAllAvailable()
      // rewrite d1 (4 rows -> 2 rows): files removed from the manifest
      Manifest.commitPartitionReplacementCas(spark, root, "day",
        Seq(("r0", "d1"), ("r1", "d1")).toDF("uid", "day"),
        touched = Seq("d1"))
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getCause.isInstanceOf[IllegalStateException] &&
        e.getCause.getMessage.contains("REMOVED"), e.getCause.toString)
    } finally q.stop()
    // a fresh reader with ignoreChanges serves the post-rewrite snapshot
    val q2 = startMem(root, "ms_repl2", Map("ignoreChanges" -> "true"))
    try {
      q2.processAllAvailable()
      assert(spark.table("ms_repl2").count() == 4) // 2 rewritten d1 + 2 d2
    } finally q2.stop()
  }

  test("changeFeed: a replacement commit emits delete+insert; a keyed mirror converges") {
    val root = mkRoot() // 4 d1 rows (u0..u3) + 2 d2 rows
    val mirror = scala.collection.mutable.Map.empty[String, String]
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = spark.readStream.format(Fmt).option("changeFeed", "true")
      .load(root)
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("uid", "day", "_change_type").collect()
        mirror.synchronized {
          // CDF application order: deletes by key first, then inserts
          rows.filter(_.getString(2) == "delete")
            .foreach(r => mirror.remove(r.getString(0)))
          rows.filter(_.getString(2) == "insert")
            .foreach(r => mirror(r.getString(0)) = r.getString(1))
          events ++= rows.map(r => r.getString(2) -> r.getString(0))
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(mirror.size == 6 && events.forall(_._1 == "insert"),
        "snapshot batch is pure inserts")
      events.clear()
      // REPLACE d1: u0..u3 out, r0/r1 in — one commit, one batch
      Manifest.commitPartitionReplacementCas(spark, root, "day",
        Seq(("r0", "d1"), ("r1", "d1")).toDF("uid", "day"),
        touched = Seq("d1"))
      q.processAllAvailable()
      assert(events.count(_._1 == "delete") == 4 &&
        events.count(_._1 == "insert") == 2, events.toString)
      assert(mirror.keySet == Set("r0", "r1", "v0", "v1"),
        s"mirror must converge to the replacement: $mirror")
    } finally q.stop()
  }

  test("commitVersions: a catch-up batch decomposes into per-commit " +
    "events — an intra-range add-then-replace emits BOTH sides instead " +
    "of netting out, and version-ordered replay is log replay") {
    val root = mkRoot()                       // v1: u0..u3 d1 + v0/v1 d2
    appendDay(root, "d3", Seq("w0", "w1"))    // v2: +2
    Manifest.commitPartitionReplacementCas(spark, root, "day",
      Seq(("r0", "d3")).toDF("uid", "day"),   // v3: REPLACES d3 (w0/w1 out)
      touched = Seq("d3"))
    Manifest.deleteWhere(spark, root, col("uid") === "u1") // v4: DV
    // the stream starts AFTER all four commits: ONE offset range
    val q = spark.readStream.format(Fmt)
      .option("changeFeed", "true").option("commitVersions", "true")
      .load(root)
      .writeStream.format("memory").queryName("ms_cv").start()
    try { q.processAllAvailable() } finally q.stop()
    val ev = spark.table("ms_cv")
      .select("uid", "_change_type", "_commit_version")
      .as[(String, String, Long)].collect().toSeq
    assert(ev.map(_._3).distinct.sorted == Seq(1L, 2L, 3L, 4L),
      s"one batch must carry all four commits: $ev")
    // the net-diff would never show w0/w1 (added v2, removed v3);
    // per-commit granularity shows both sides
    assert(ev.contains(("w0", "insert", 2L)) &&
      ev.contains(("w0", "delete", 3L)), s"intra-range history lost: $ev")
    assert(ev.contains(("r0", "insert", 3L)))
    assert(ev.contains(("u1", "delete", 4L)), "the DV delete is v4's event")
    // replaying commits in _commit_version order reproduces the table
    val mirror = scala.collection.mutable.Map.empty[String, Long]
    ev.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (v, rows) =>
      rows.filter(_._2 == "delete").foreach(r => mirror.remove(r._1))
      rows.filter(_._2 == "insert").foreach(r => mirror(r._1) = v)
    }
    assert(mirror.keySet ==
      Manifest.read(spark, root).select("uid").as[String].collect().toSet,
      s"version-ordered replay must equal the live table: $mirror")
  }

  test("commitVersions without changeFeed fails at SCHEMA time, before " +
    "source construction — the probe and the constructor must agree") {
    val root = mkRoot()
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format(Fmt)
        .option("commitVersions", "true").load(root)
    }
    assert(e.getMessage.contains("changeFeed"), e.getMessage)
  }

  test("commitVersions getBatch over a range with NO retained version " +
    "fails with a retention-violation error, not empty.reduce") {
    import graft.streaming.ManifestStreamSource
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = mkRoot()                       // v1
    appendDay(root, "d3", Seq("w0"))          // v2
    val schema = Manifest.read(spark, root).schema
    val src = new ManifestStreamSource(spark, root, schema,
      startVersion = 0L, ignoreChanges = false, changeFeed = true,
      commitVersions = true)
    // a lagging checkpoint recorded (2, 5] but retention vacuumed
    // everything in that range away — versions 3..5 never survived
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(LongOffset(2L)), LongOffset(5L))
    }
    assert(e.getMessage.contains("retention"), e.getMessage)
  }

  test("group-pinned stream: a member's own commit is INVISIBLE until " +
    "the group flips; the flip serves it fully — batches align to " +
    "publishes, never to per-table commits") {
    import graft.sources.ManifestGroup
    val root = mkRoot()
    val meta = Files.createTempDirectory("graft_msgrp").toString
    ManifestGroup.flip(spark, meta, Map(root ->
      Manifest.commit(spark, root, Manifest.current(spark, root).get._2))) // g1
    val q = startMem(root, "ms_grp", Map("groupMeta" -> meta))
    try {
      q.processAllAvailable()
      assert(spark.table("ms_grp").count() == 6, "g1 snapshot")
      // the crash window: the member commits, but no flip happens —
      // a group-pinned reader must NOT see it
      appendDay(root, "d3", Seq("w0", "w1"))
      q.processAllAvailable()
      assert(spark.table("ms_grp").count() == 6,
        "an unflipped member commit must stay invisible to the stream")
      // the flip publishes it — the batch serves the full diff
      ManifestGroup.flip(spark, meta, Map(
        ManifestGroup.normKey(root) -> Manifest.current(spark, root).get._1))
      q.processAllAvailable()
      val got = spark.table("ms_grp").select("uid").as[String]
        .collect().sorted.toSeq
      assert(got.size == 8 && got.count(_.startsWith("w")) == 2,
        s"flip must serve exactly the published rows once: $got")
    } finally q.stop()
  }

  test("group-pinned getBatch windows pin the flip all-or-nothing: a " +
    "range ending before the flip excludes it entirely; the next " +
    "range carries it entirely") {
    import graft.streaming.ManifestStreamSource
    import graft.sources.ManifestGroup
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val root = mkRoot()
    val meta = Files.createTempDirectory("graft_msgrp2").toString
    ManifestGroup.flip(spark, meta, Map(root ->
      Manifest.commit(spark, root, Manifest.current(spark, root).get._2))) // g1
    val schema = Manifest.read(spark, root).schema
    val src = new ManifestStreamSource(spark, root, schema,
      startVersion = 0L, ignoreChanges = false, changeFeed = false,
      commitVersions = false, group = Some(meta))
    def toBatch(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftDatasetFactory.ofRows(spark,
        df.queryExecution.logical.transform {
          case lr: LogicalRelation => lr.copy(isStreaming = false)
        })
    assert(src.getOffset.map(_.json.toLong).contains(1L))
    // the flip lands AFTER the reader pinned (0, g1]: the batch is the
    // g1 snapshot exactly — nothing of g2 leaks in
    appendDay(root, "d3", Seq("w0", "w1", "w2"))
    ManifestGroup.flip(spark, meta, Map(
      ManifestGroup.normKey(root) -> Manifest.current(spark, root).get._1))
    assert(toBatch(src.getBatch(None, LongOffset(1L))).count() == 6,
      "a batch pinned before the flip must exclude it entirely")
    // the next window carries the whole flip
    assert(toBatch(src.getBatch(Some(LongOffset(1L)), LongOffset(2L)))
      .count() == 3, "the next batch must carry the full publish")
    // a lagging reader whose recorded GROUP offset was vacuumed fails
    // with the retention message, not FileNotFound
    ManifestGroup.vacuumGroup(spark, meta, keepGroups = 1)
    val e = intercept[IllegalStateException] {
      src.getBatch(None, LongOffset(1L))
    }
    assert(e.getMessage.contains("keep more groups"), e.getMessage)
  }

  test("spark.readStream.table(t): the NAME-ADDRESSED manifest stream " +
    "— snapshot-then-commits semantics; staged-but-uncommitted files " +
    "stay invisible (the stock file watcher would serve them)") {
    import graft.sources.GraftTable
    val root = mkRoot()
    GraftTable.register(spark, "graft_mst", "t1", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "uid STRING, day STRING")), partitionCols = Seq("day"))
    val q = spark.readStream.table("graft_mst.t1")
      .writeStream.format("memory").queryName("mst_base").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mst_base").count() == 6, "first batch = snapshot")
      // stage WITHOUT committing: a directory watcher would serve this
      val (fs, rootP) = (new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(root))
      Manifest.stageUniqueParts(spark, fs, rootP, Seq("day"),
        Seq(("ghost", "d9")).toDF("uid", "day"))
      q.processAllAvailable()
      assert(spark.table("mst_base").count() == 6,
        "staged-but-uncommitted files must stay invisible to the stream")
      appendDay(root, "d3", Seq("w0", "w1"))
      q.processAllAvailable()
      assert(spark.table("mst_base").count() == 8, "the commit streams")
    } finally q.stop()
  }

  test("readStream.table options: readChangeFeed serves the CDF schema " +
    "(deletes as row events); a group-pinned registration streams " +
    "group FLIPS; a version-pinned one refuses loudly") {
    import graft.sources.{GraftTable, ManifestGroup}
    // CDF arm
    val root = mkRoot()
    GraftTable.register(spark, "graft_mst", "t2", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "uid STRING, day STRING")), partitionCols = Seq("day"))
    val qc = spark.readStream.option("readChangeFeed", "true")
      .table("graft_mst.t2")
      .writeStream.format("memory").queryName("mst_cdf").start()
    try {
      qc.processAllAvailable()
      assert(spark.table("mst_cdf")
        .where(col("_change_type") === "insert").count() == 6)
      Manifest.deleteWhere(spark, root, col("uid") === "u0")
      qc.processAllAvailable()
      val dels = spark.table("mst_cdf")
        .where(col("_change_type") === "delete")
        .select("uid").as[String].collect().toSeq
      assert(dels == Seq("u0"),
        s"the DV commit must stream as a row-level delete event: $dels")
    } finally qc.stop()

    // group-pinned arm: q253 semantics through the NAME
    val root2 = mkRoot()
    val meta = Files.createTempDirectory("graft_mstgrp").toString
    ManifestGroup.flip(spark, meta, Map(root2 ->
      Manifest.commit(spark, root2, Manifest.current(spark, root2).get._2))) // g1
    GraftTable.register(spark, "graft_mst", "t3", root2,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "uid STRING, day STRING")), partitionCols = Seq("day"),
      group = Some(meta))
    val qg = spark.readStream.table("graft_mst.t3")
      .writeStream.format("memory").queryName("mst_grp").start()
    try {
      qg.processAllAvailable()
      assert(spark.table("mst_grp").count() == 6, "g1 snapshot")
      appendDay(root2, "d3", Seq("w0", "w1"))
      qg.processAllAvailable()
      assert(spark.table("mst_grp").count() == 6,
        "an unflipped member commit must stay invisible")
      ManifestGroup.flip(spark, meta, Map(
        ManifestGroup.normKey(root2) ->
          Manifest.current(spark, root2).get._1))
      qg.processAllAvailable()
      assert(spark.table("mst_grp").count() == 8, "the flip streams")
    } finally qg.stop()

    // version-pin refusal
    GraftTable.register(spark, "graft_mst", "t4", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "uid STRING, day STRING")), partitionCols = Seq("day"),
      versionAsOf = Some(1L))
    val e = intercept[Exception] {
      spark.readStream.table("graft_mst.t4")
        .writeStream.format("memory").queryName("mst_pin").start()
    }
    assert(e.getMessage.contains("version-pinned") ||
      Option(e.getCause).exists(_.getMessage.contains("version-pinned")),
      e.getMessage)
  }

  test("restart from checkpoint resumes at the recorded version, no duplicates") {
    val root = mkRoot()
    val cp = Files.createTempDirectory("graft_mstream_cp").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def start(): StreamingQuery =
      spark.readStream.format(Fmt).load(root)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("uid").collect().foreach(r => seen.add(r.getString(0)))
          ()
        }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.size == 6)
    appendDay(root, "d3", Seq("w0", "w1"))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val all = seen.toArray(Array.empty[String]).toSeq.sorted
    assert(all.size == 8 && all.distinct.size == 8,
      s"exactly-once across restart, got $all")
  }
}
