package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Erasure

/** Right-to-be-forgotten erasure: pure anti-join semantics, the
  * streaming erasure sink, and the partition-scoped manifest path's
  * no-match case — nothing rewritten, a ledger row for every request.
  * The partition-scoped rewrite itself (partial and fully-erased
  * leaves) is pinned in ManifestSpec and MultiLevelPartitionSpec. */
class ErasureSpec extends SparkTestBase {
  import spark.implicits._

  test("erase: exactly the subjects' rows drop, broadcast anti-join") {
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (1L, "a2", 11L),
      (3L, "c", 30L)).toDF("user_id", "name", "v")
    val subjects = Seq(Tuple1(1L), Tuple1(9L)).toDF("user_id")
    val out = Erasure.erase(target, subjects, Seq("user_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((2L, "b", 20L), (3L, "c", 30L)))
  }

  test("streaming erasure: requests in batch 2 erase rows admitted in " +
    "batch 1 on the LIVE table; ledger rows per request") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Files.createTempDirectory("erase_stream").toString
    val serving = s"$base/serving"
    val ledger = s"$base/ledger"
    // the live serving table: rows "admitted in batch 1" of an upstream
    // ingest (the erasure stream is a SEPARATE stream of requests)
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("user_id", "day", "v")
      .write.partitionBy("day").parquet(serving)
    val requests = MemoryStream[Long](spark)
    val q = graft.streaming.StreamingErasure.run(
      requests.toDF().withColumnRenamed("value", "user_id"),
      serving, s"$base/ckpt", "day", Seq("user_id"), ledger)
    try {
      requests.addData(1L)          // batch: erase user 1
      q.processAllAvailable()
      requests.addData(3L, 99L)     // batch: erase user 3 + a no-match
      q.processAllAvailable()
      val out = graft.sources.Manifest.read(spark, serving)
        .select(col("user_id"), col("v"))
        .as[(Long, Long)].collect().toSet
      assert(out == Set((2L, 20L)), s"users 1 and 3 erased: $out")
      // d2 was fully erased by the second batch — gone from disk too
      assert(!new java.io.File(s"$serving/day=d2").exists())
      val led = spark.read.parquet(ledger)
        .select(col("user_id"), col("n_rows_erased"), col("batch_id"))
        .as[(Long, Long, String)].collect().toSet
      assert(led.map(r => (r._1, r._2)) ==
        Set((1L, 1L), (3L, 1L), (99L, 0L)), led.toString)
      assert(led.map(_._3).size >= 1 && led.map(_._3).forall(_.startsWith("erase-")))
    } finally q.stop()
  }

  test("partition-scoped erasure: no-match batch rewrites nothing, " +
    "ledger still records the processed request") {
    val base = Files.createTempDirectory("erase_nm").toString
    val path = s"$base/t"
    val ledger = s"$base/ledger"
    Seq((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
      .toDF("user_id", "day", "v")
      .write.partitionBy("day").parquet(path)
    def allFiles(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      walk(new java.io.File(path))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = allFiles()
    Thread.sleep(1100)
    Erasure.erasePartitionScopedAtomic(spark, path, Seq("day"),
      Seq(Tuple1(77L)).toDF("user_id"), Seq("user_id"), "req-x", Some(ledger))
    assert(allFiles() == before, "no partitions may be rewritten")
    val led = spark.read.parquet(ledger)
      .select(col("user_id"), col("n_rows_erased"), col("n_partitions_touched"))
      .as[(Long, Long, Long)].collect().toSet
    assert(led == Set((77L, 0L, 0L)))
  }
}
