package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.BloomFileIndex

/** Per-file bloom point-lookup index: pruning is real (a looked-up id's
  * candidate set is a strict subset of the files), NEVER lossy (every
  * file actually holding the id is a candidate — bloom filters have no
  * false negatives), and the pruned scan + row filter equals the full
  * scan + row filter. */
class BloomFileIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("pruned lookup == full filter; no false negatives; real pruning") {
    val base = Files.createTempDirectory("bloomidx").toString
    val table = s"$base/t"
    val idx = s"$base/idx"
    // 8 files, ids clustered so each id lives in exactly one file
    (0 until 8).foreach { b =>
      (0 until 50).map(i => (b * 1000L + i, s"u${b * 1000 + i}", b))
        .toDF("id", "uid", "bucket")
        .coalesce(1) // exactly one file per cluster
        .write.mode("append").parquet(table)
    }
    BloomFileIndex.build(spark, table, "uid", idx,
      expectedPerFile = 1000L, numBits = 10000L)
    val full = spark.read.parquet(table)
    for (probe <- Seq("u0", "u3007", "u7049")) {
      val (files, total) = BloomFileIndex.prunedPaths(spark, idx, lit(probe))
      assert(total == 8, s"index rows: $total")
      assert(files.nonEmpty && files.length < 8,
        s"$probe: expected real pruning, got ${files.length} of $total")
      val viaIndex = BloomFileIndex.scan(spark, table, files)
        .where(col("uid") === probe).select("id").as[Long].collect().toSet
      val viaFull = full.where(col("uid") === probe)
        .select("id").as[Long].collect().toSet
      assert(viaIndex == viaFull && viaFull.size == 1, s"$probe: $viaIndex")
    }
    // an absent id may false-positive into some files but the row filter
    // still answers empty
    val (files, _) = BloomFileIndex.prunedPaths(spark, idx, lit("nobody"))
    val hits =
      if (files.isEmpty) 0L
      else BloomFileIndex.scan(spark, table, files)
        .where(col("uid") === "nobody").count()
    assert(hits == 0L)
  }

  test("driver norm() and SQL normExpr are byte-identical over every " +
    "path rendering, including authority-bearing URIs") {
    // the round-10 defect class: two normalizations that agree on local
    // file:// paths but diverge on hdfs://nn/x vs s3a://bucket/x would
    // make refresh()'s kept semi-join silently empty on a real cluster
    val renders = Seq(
      "file:///a/b/c.parquet", "file:/a/b/c.parquet", "/a/b/c.parquet",
      "hdfs://nn:8020/a/b/c.parquet", "hdfs://nn/a/b/c.parquet",
      "s3a://bucket/a/b/c.parquet", "o.d-d+x://auth/a/b/c.parquet")
    val viaDriver = renders.map(BloomFileIndex.norm)
    val viaSql = renders.toDF("p")
      .select(BloomFileIndex.normExpr(col("p"))).as[String].collect().toSeq
    assert(viaDriver == viaSql, s"driver=$viaDriver sql=$viaSql")
    assert(viaDriver.toSet == Set("/a/b/c.parquet"),
      s"all renderings must collapse to the bare path: $viaDriver")
  }

  test("refresh syncs the index to the manifest incrementally: carried " +
    "files keep their blooms, commit-added files gain them, vacuumed " +
    "files drop; lookups stay exact across the MERGE") {
    import graft.operators.Upsert
    import graft.sources.Manifest
    val base = Files.createTempDirectory("bloomrefresh").toString
    val table = s"$base/t"
    val idx = s"$base/idx"
    (0 until 4).foreach { b =>
      (0 until 20).map(i => (b * 100L + i, s"u${b * 100 + i}", s"d$b"))
        .toDF("id", "uid", "day").coalesce(1)
        .write.mode("append").partitionBy("day").parquet(table)
    }
    Manifest.bootstrap(spark, table)
    BloomFileIndex.build(spark, table, "uid", idx, 1000L, 10000L)
    // atomic MERGE touches d1 only: its file is replaced (vacuumed),
    // the other three carry over
    Upsert.upsertPartitionScopedAtomic(spark, table, Seq("day"),
      Seq((100L, "u100x", "d1")).toDF("id", "uid", "day"), Seq("id"))
    val (kept, added, removed) =
      BloomFileIndex.refresh(spark, table, "uid", idx, 1000L, 10000L)
    assert(kept == 3 && removed == 1 && added >= 1,
      s"kept=$kept added=$added removed=$removed")
    // the renamed key is findable through the refreshed index...
    val (f1, total) = BloomFileIndex.prunedPaths(spark, idx, lit("u100x"))
    assert(total == 3 + added)
    assert(BloomFileIndex.scan(spark, table, f1)
      .where(col("uid") === "u100x").count() == 1)
    // ... and an untouched partition's key still prunes correctly
    val (f2, _) = BloomFileIndex.prunedPaths(spark, idx, lit("u205"))
    assert(f2.nonEmpty && f2.length < total.toInt)
    assert(BloomFileIndex.scan(spark, table, f2)
      .where(col("uid") === "u205").count() == 1)
  }
}
