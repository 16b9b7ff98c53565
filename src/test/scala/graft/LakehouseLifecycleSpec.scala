package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.jobs.Compaction
import graft.operators.{Erasure, SnapshotDiff, Upsert}
import graft.sources.{BloomFileIndex, Manifest}

/** The whole table-format story on ONE table, end to end: bootstrap →
  * atomic MERGE → atomic erasure → atomic compaction, every commit
  * retained (keepVersions plumbed through the ops), every retained
  * version replayable, each consecutive-version SnapshotDiff describing
  * exactly the operation that produced it, and the bloom point-lookup
  * index refreshed incrementally across the commits. The individual
  * specs pin each operator; this one pins their INTERACTION — the
  * lifecycle a real serving table lives. */
class LakehouseLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  test("merge -> erase -> compact with full retention: time travel, " +
    "change feeds, and index lookups stay consistent throughout") {
    val base = Files.createTempDirectory("lakehouse").toString
    val path = s"$base/t"
    val idx = s"$base/idx"
    val ledger = s"$base/ledger"

    // v1: bootstrap — 3 days, fragmented (2 files in d1)
    Seq((1L, "d1", 10L)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    Seq((2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L))
      .toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    val v1 = Manifest.current(spark, path).get._1
    BloomFileIndex.build(spark, path, "id", idx, 1000L, 10000L)

    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select(col("id"), col("day").cast("string"), col("v"))
        .as[(Long, String, Long)].collect().toSet

    // v2: MERGE — update id=1, insert id=5 into a new day
    Upsert.upsertPartitionScopedAtomic(spark, path, Seq("day"),
      Seq((1L, "d1", 111L), (5L, "d4", 50L)).toDF("id", "day", "v"),
      Seq("id"), keepVersions = 10)
    val v2 = Manifest.current(spark, path).get._1
    val afterMerge = Set((1L, "d1", 111L), (2L, "d1", 20L),
      (3L, "d2", 30L), (4L, "d3", 40L), (5L, "d4", 50L))
    assert(snap(Manifest.read(spark, path)) == afterMerge)

    // v3: ERASE — subject id=3 (all of d2: fully-erased partition)
    Erasure.erasePartitionScopedAtomic(spark, path, Seq("day"),
      Seq(3L).toDF("id"), Seq("id"), batchId = "life-1",
      ledgerPath = Some(ledger), keepVersions = 10)
    val v3 = Manifest.current(spark, path).get._1
    val afterErase = afterMerge - ((3L, "d2", 30L))
    assert(snap(Manifest.read(spark, path)) == afterErase)

    // v4: COMPACT d1 (2+ files) down to one
    Compaction.compactAtomicLeaves(spark, path, Seq("day"),
      targetBytes = 1L << 30, keepVersions = 10,
      partitionPredicate = Some("day = 'd1'"))
    val v4 = Manifest.current(spark, path).get._1
    assert(snap(Manifest.read(spark, path)) == afterErase,
      "compaction preserves content")

    // every retained version replays its own state
    assert(snap(Manifest.readVersion(spark, path, v1)) ==
      Set((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L)))
    assert(snap(Manifest.readVersion(spark, path, v2)) == afterMerge)
    assert(snap(Manifest.readVersion(spark, path, v3)) == afterErase)
    assert(snap(Manifest.readVersion(spark, path, v4)) == afterErase)

    // consecutive change feeds describe exactly each operation
    def feed(a: Long, b: Long): Map[Long, String] =
      SnapshotDiff.diff(Manifest.readVersion(spark, path, a),
          Manifest.readVersion(spark, path, b), col("id"), col("v"))
        .as[(Long, String)].collect().toMap
    assert(feed(v1, v2) == Map(1L -> "changed", 2L -> "unchanged",
      3L -> "unchanged", 4L -> "unchanged", 5L -> "added"))
    assert(feed(v2, v3) == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "removed", 4L -> "unchanged", 5L -> "unchanged"))
    assert(feed(v3, v4).values.forall(_ == "unchanged"),
      "compaction is content-invisible in the change feed")

    // the bloom index refreshes incrementally across all three commits
    // and still answers point lookups exactly
    val (kept, added, removed) =
      BloomFileIndex.refresh(spark, path, "id", idx, 1000L, 10000L)
    assert(kept + added == Manifest.current(spark, path).get._2.size,
      s"index rows must cover the live set: kept=$kept added=$added")
    assert(removed > 0, "replaced files must drop from the index")
    for ((probe, expect) <- Seq(1L -> 1L, 3L -> 0L, 5L -> 1L)) {
      // probe with the COLUMN's type: xxhash64(long) != xxhash64(string)
      val (files, _) = BloomFileIndex.prunedPaths(spark, idx, lit(probe))
      val n = if (files.isEmpty) 0L
        else BloomFileIndex.scan(spark, path, files)
          .where(col("id") === probe).count()
      assert(n == expect, s"lookup id=$probe")
    }

    // ledger proves the erasure
    val led = spark.read.parquet(ledger)
      .select(col("id"), col("n_rows_erased"))
      .as[(Long, Long)].collect().toSet
    assert(led == Set((3L, 1L)))

    // retention tightened to current only: history reclaimed, snapshot
    // intact
    Manifest.vacuum(spark, path, keepVersions = 1)
    intercept[IllegalArgumentException](Manifest.readVersion(spark, path, v1))
    assert(snap(Manifest.read(spark, path)) == afterErase)
  }

  test("OPTIMIZE ZORDER refreshes the bloom index in the same " +
    "operation: a point lookup immediately after never loses pruning") {
    val base = Files.createTempDirectory("lakehouse_zb").toString
    val path = s"$base/t"
    val idx = s"$base/idx"
    // 4096 ids hash-shuffled over 8 files; per-file blooms over id
    spark.range(4096)
      .select(col("id"), (col("id") % 64).as("x"),
        ((col("id") * 2654435761L) % 64).as("y"))
      .repartition(8).write.parquet(path)
    Manifest.bootstrap(spark, path)
    BloomFileIndex.build(spark, path, "id", idx, 1000L, 10000L)
    val (files0, total0) = BloomFileIndex.prunedPaths(spark, idx, lit(77L))
    assert(total0 == 8 && files0.nonEmpty)
    // the clustered rewrite replaces EVERY indexed file — the refresh
    // must ride the same operation (verdict #8), or the next lookup's
    // fail-open index prunes nothing
    val v = Compaction.optimizeZOrder(spark, path, Seq("x", "y"), zBits = 6,
      numFiles = 8, bloomColumn = Some("id"), bloomIndexPath = Some(idx))
    val live = Manifest.filesAt(spark, path, v)
      .map(rel => BloomFileIndex.norm(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(path), rel).toString)).toSet
    val idxFiles = spark.read.parquet(idx).select("file")
      .as[String].collect().map(BloomFileIndex.norm).toSet
    assert(idxFiles == live,
      s"index must cover exactly the post-optimize live set")
    // the lookup prunes over the NEW files and still answers exactly
    for (probe <- Seq(77L, 4095L, 9999L)) {
      val (files, total) = BloomFileIndex.prunedPaths(spark, idx, lit(probe))
      assert(total == live.size)
      assert(files.map(BloomFileIndex.norm).toSet.subsetOf(live),
        "no retired file may be probed")
      val n = if (files.isEmpty) 0L
        else BloomFileIndex.scan(spark, path, files)
          .where(col("id") === probe).count()
      assert(n == (if (probe < 4096) 1L else 0L), s"lookup id=$probe")
    }
  }
}
