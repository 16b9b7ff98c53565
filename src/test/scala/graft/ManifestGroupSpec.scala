package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.sources.{GraftTable, Manifest, ManifestGroup}

/** Atomic multi-table publish: per-table commits stay invisible to
  * group readers until the ONE group-pointer flip; the flip moves
  * every member together; a rival that already published past us
  * aborts instead of flipping a table backwards. */
class ManifestGroupSpec extends SparkTestBase {
  import spark.implicits._

  private def listing(root: String): Seq[String] = {
    val p = new Path(root)
    Manifest.listDataFiles(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** facts table (uid, w) + per-w agg table (w, n), both under one
    * group; wave 1 published. Returns (rootA, rootB, meta, tblA, tblB). */
  private def mkGroup(): (String, String, String, String, String) = {
    val base = Files.createTempDirectory("graft_group").toString
    val (rootA, rootB, meta) = (s"$base/facts", s"$base/agg", s"$base/meta")
    val tag = Integer.toHexString(base.hashCode)
    (0 until 3).map(i => (s"a$i", "w1")).toDF("uid", "w")
      .coalesce(1).write.partitionBy("w").parquet(rootA)
    Seq(("w1", 3L)).toDF("w", "n").coalesce(1).write.parquet(rootB)
    ManifestGroup.flip(spark, meta, Map(
      rootA -> Manifest.commit(spark, rootA, listing(rootA)),
      rootB -> Manifest.commit(spark, rootB, listing(rootB))))
    GraftTable.register(spark, "graft_test", s"grp_facts_$tag", rootA,
      group = Some(meta))
    GraftTable.register(spark, "graft_test", s"grp_agg_$tag", rootB,
      group = Some(meta))
    (rootA, rootB, meta,
      s"graft_test.grp_facts_$tag", s"graft_test.grp_agg_$tag")
  }

  test("per-table commits are invisible to group readers until the flip") {
    val (rootA, _, meta, tblA, _) = mkGroup()
    assert(spark.table(tblA).count() == 3)
    // wave 2 lands physically AND commits to the TABLE's own manifest —
    // the crash window between table commits and the group flip
    (0 until 4).map(i => (s"b$i", "w2")).toDF("uid", "w")
      .coalesce(1).write.mode("append").partitionBy("w").parquet(rootA)
    val v2 = Manifest.commit(spark, rootA, listing(rootA))
    assert(spark.table(tblA).count() == 3,
      "a committed-but-unflipped version must stay invisible")
    ManifestGroup.flip(spark, meta, Map(ManifestGroup.normKey(rootA) -> v2))
    assert(spark.table(tblA).count() == 7, "the flip publishes it")
  }

  test("one flip moves every member together — no mixed-version window") {
    val (rootA, rootB, meta, tblA, tblB) = mkGroup()
    def consistent(): Boolean = {
      val a = spark.table(tblA).groupBy("w").agg(count(lit(1)).as("n_a"))
      val b = spark.table(tblB)
      b.join(a, Seq("w"), "full_outer")
        .where(!(col("n") <=> col("n_a"))).isEmpty
    }
    assert(consistent())
    // wave 2 into BOTH tables' own manifests; group still at wave 1
    (0 until 4).map(i => (s"b$i", "w2")).toDF("uid", "w")
      .coalesce(1).write.mode("append").partitionBy("w").parquet(rootA)
    val vA = Manifest.commit(spark, rootA, listing(rootA))
    Seq(("w2", 4L)).toDF("w", "n")
      .coalesce(1).write.mode("append").parquet(rootB)
    val vB = Manifest.commit(spark, rootB, listing(rootB))
    assert(consistent(), "both members still serve wave 1")
    assert(spark.table(tblA).count() == 3)
    ManifestGroup.flip(spark, meta, Map(
      ManifestGroup.normKey(rootA) -> vA, ManifestGroup.normKey(rootB) -> vB))
    assert(consistent(), "both members flipped together")
    assert(spark.table(tblA).count() == 7 && spark.table(tblB).count() == 2)
  }

  test("regression guard: a flip below the group's current version aborts") {
    val (rootA, _, meta, _, _) = mkGroup()
    (0 until 2).map(i => (s"b$i", "w2")).toDF("uid", "w")
      .coalesce(1).write.mode("append").partitionBy("w").parquet(rootA)
    val v2 = Manifest.commit(spark, rootA, listing(rootA))
    ManifestGroup.flip(spark, meta, Map(ManifestGroup.normKey(rootA) -> v2))
    intercept[java.util.ConcurrentModificationException] {
      ManifestGroup.flip(spark, meta, Map(ManifestGroup.normKey(rootA) -> 1L))
    }
  }

  test("vacuumGroup: retained groups replay, unreferenced versions reclaimed, " +
    "unflipped head survives") {
    val (rootA, rootB, meta, tblA, tblB) = mkGroup() // g1: A v1 (3×w1), B v1
    // g2: REPLACE w1 with 2 rows — v1's files become reclaimable once g1 retires
    val vA2 = Manifest.commitPartitionReplacementCas(spark, rootA, "w",
      Seq(("r0", "w1"), ("r1", "w1")).toDF("uid", "w"), touched = Seq("w1"))
    ManifestGroup.flip(spark, meta, Map(ManifestGroup.normKey(rootA) -> vA2))
    // an unflipped head: committed to A's own manifest, in no group yet
    // (CAS append of a new partition — v1's replaced files stay orphaned)
    val vA3 = Manifest.commitPartitionReplacementCas(spark, rootA, "w",
      (0 until 2).map(i => (s"h$i", "w3")).toDF("uid", "w"),
      touched = Seq("w3"))
    ManifestGroup.vacuumGroup(spark, meta, keepGroups = 1)
    assert(ManifestGroup.versions(spark, meta) == Seq(2L),
      "old group files retire")
    assert(Manifest.versions(spark, rootA) == Seq(vA2, vA3),
      "referenced version + unflipped head survive; v1 reclaimed")
    assert(spark.table(tblA).count() == 2, "the retained group still serves")
    assert(spark.table(tblB).count() == 1, "carried-forward member intact")
    assert(Manifest.readVersion(spark, rootA, vA3).count() == 4,
      "the unflipped head stays fully replayable for its coming flip")
    // v1's replaced files are physically gone
    assert(listing(rootA).toSet ==
      (Manifest.filesAt(spark, rootA, vA2) ++
        Manifest.filesAt(spark, rootA, vA3)).toSet)
  }

  test("GA daily export: six tables publish as one group flip, re-run idempotent") {
    import graft.ingest.Ingest
    import graft.jobs.{DailyJob, GaPipeline}
    val hits = Ingest.readEnrichedHits(spark,
      "fixtures/ga/enriched/year=2019/month=09/day=23")
    val out = GaPipeline.run(hits,
      GaPipeline.loadHistory(spark, "/nonexistent/history"), "2019-09-23")
    val tmp = Files.createTempDirectory("graft_ga_group").toString
    val db = "ga_grp_test"
    val (g1, m1) = DailyJob.writeDailyGroupAtomic(spark, out, tmp,
      Seq("2019-09-23"), Some(db))
    assert(g1 == 1 && m1.size == 6 && m1.values.forall(_ == 1L))
    val types = Seq("sessions", "pageviews", "events", "products",
      "transactions", "items")
    def counts() = types.map(t => t -> spark.table(s"$db.$t").count()).toMap
    val c1 = counts()
    val expectedSessions = out.sessions
      .filter(to_date(col("timestamp")) === "2019-09-23").count()
    assert(c1("sessions") == expectedSessions && c1("pageviews") > 0)
    // same-day re-run: every table re-publishes (v2), counts unchanged
    val (g2, m2) = DailyJob.writeDailyGroupAtomic(spark, out, tmp,
      Seq("2019-09-23"), Some(db))
    assert(g2 == 2 && m2.values.forall(_ == 2L))
    assert(counts() == c1, "idempotent re-run must not change any table")
    // crash window: a rogue per-table commit without a flip is invisible
    val sessRoot = s"$tmp/daily/type=sessions"
    out.sessions.filter(to_date(col("timestamp")) === "2019-09-23")
      .withColumn("year", lit("2019")).withColumn("month", lit("09"))
      .withColumn("day", lit("24")) // a bogus extra day
      .write.mode("append").partitionBy("year", "month", "day")
      .parquet(sessRoot)
    Manifest.commit(spark, sessRoot, listing(sessRoot))
    assert(counts() == c1,
      "a committed-but-unflipped table version must stay invisible")
  }

  test("publish(): absent members carry forward; group versions are linear") {
    val (rootA, rootB, meta, tblA, tblB) = mkGroup()
    (0 until 2).map(i => (s"c$i", "w3")).toDF("uid", "w")
      .coalesce(1).write.mode("append").partitionBy("w").parquet(rootA)
    val (g2, mapping) = ManifestGroup.flip(spark, meta,
      Map(rootA -> Manifest.commit(spark, rootA, listing(rootA))))
    assert(g2 == 2)
    assert(mapping(ManifestGroup.normKey(rootB)) == 1L,
      "untouched member carries forward")
    assert(spark.table(tblA).count() == 5)
    assert(spark.table(tblB).count() == 1, "agg table unchanged")
    assert(ManifestGroup.versions(spark, meta) == Seq(1L, 2L))
  }

  /** Stage `df` under `root` (partitioned by `partCols`) and commit it
    * on top of the current head — a rival writer's append. Returns
    * the rival's files. */
  private def rivalAppend(root: String, partCols: Seq[String],
                          df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val rootP = new Path(root)
    val f = Manifest.stageUniqueParts(spark,
      rootP.getFileSystem(spark.sessionState.newHadoopConf()), rootP,
      partCols, df)
    val (cur, live) = Manifest.current(spark, root).get
    assert(Manifest.tryCommit(spark, root, live ++ f, cur).isDefined)
    f
  }

  test("eraseGroupAtomic racing a member commit: a rival on a DISJOINT " +
    "leaf stays live after the flip; a rival on a TOUCHED leaf aborts " +
    "and leaves the group pointer where it was") {
    import graft.operators.Erasure
    def mk(): (String, String, String) = {
      val base = Files.createTempDirectory("graft_grp_race").toString
      val (rootA, rootB, meta) = (s"$base/a", s"$base/b", s"$base/meta")
      Seq(("a0", "w1"), ("a1", "w1"), ("a2", "w2")).toDF("uid", "w")
        .coalesce(1).write.partitionBy("w").parquet(rootA)
      Seq(("a0", "w1"), ("b1", "w1"), ("b2", "w2")).toDF("uid", "w")
        .coalesce(1).write.partitionBy("w").parquet(rootB)
      Manifest.bootstrap(spark, rootA); Manifest.bootstrap(spark, rootB)
      ManifestGroup.flip(spark, meta, Map(rootA -> 1L, rootB -> 1L))
      (rootA, rootB, meta)
    }
    def uids(root: String, v: Long): Set[String] =
      Manifest.readVersion(spark, root, v).select("uid").as[String]
        .collect().toSet
    val subjects = Seq("a0").toDF("uid")
    // disjoint: the rival lands on B's w9 while A publishes
    val (rootA, rootB, meta) = mk()
    var rivalFiles: Seq[String] = Nil
    val (g, mapping) = RivalCommit.around(rootA) {
      rivalFiles = rivalAppend(rootB, Seq("w"), Seq(("r9", "w9")).toDF("uid", "w"))
    } {
      Erasure.eraseGroupAtomic(spark, meta, Seq(rootA -> "w", rootB -> "w"),
        subjects, Seq("uid"), batchId = "race-1")
    }
    assert(g == 2L)
    val vB = mapping(ManifestGroup.normKey(rootB))
    assert(rivalFiles.nonEmpty && rivalFiles.forall(
      Manifest.filesAt(spark, rootB, vB).contains),
      "the rival's commit must stay live in the flipped version")
    assert(uids(rootB, vB) == Set("b1", "b2", "r9"))
    assert(uids(rootA, mapping(ManifestGroup.normKey(rootA))) == Set("a1", "a2"))
    // overlap: the rival lands on B's touched leaf w1 — abort, no flip
    val (rootA2, rootB2, meta2) = mk()
    val before = ManifestGroup.currentGroup(spark, meta2).get
    intercept[java.util.ConcurrentModificationException] {
      RivalCommit.around(rootA2) {
        rivalAppend(rootB2, Seq("w"), Seq(("r1", "w1")).toDF("uid", "w")): Unit
      } {
        Erasure.eraseGroupAtomic(spark, meta2,
          Seq(rootA2 -> "w", rootB2 -> "w"), subjects, Seq("uid"),
          batchId = "race-2")
      }
    }
    assert(ManifestGroup.currentGroup(spark, meta2).get == before,
      "an aborted member must leave the group pointer where it was")
    assert(uids(rootB2, Manifest.current(spark, rootB2).get._1) ==
      Set("a0", "b1", "b2", "r1"), "the rival's commit stands")
  }

  test("writeDailyGroupAtomic racing a member commit: a rival on another " +
    "day stays live after the flip; a rival on a written day aborts and " +
    "leaves the group pointer where it was") {
    import graft.ingest.Ingest
    import graft.jobs.{DailyJob, GaPipeline}
    val hits = Ingest.readEnrichedHits(spark,
      "fixtures/ga/enriched/year=2019/month=09/day=23")
    val out = GaPipeline.run(hits,
      GaPipeline.loadHistory(spark, "/nonexistent/history"), "2019-09-23")
    val day = Seq("2019-09-23")
    def rivalDay(root: String, d: String): Seq[String] =
      rivalAppend(root, Seq("year", "month", "day"),
        spark.read.parquet(root).drop("year", "month", "day").limit(1)
          .withColumn("year", lit("2019")).withColumn("month", lit("09"))
          .withColumn("day", lit(d)))
    // disjoint: while sessions publishes, a rival lands on pageviews' 24th
    val tmp = Files.createTempDirectory("graft_ga_race").toString
    DailyJob.writeDailyGroupAtomic(spark, out, tmp, day, None)      // g1
    val (pv, sess) = (s"$tmp/daily/type=pageviews", s"$tmp/daily/type=sessions")
    val pvDay = Manifest.read(spark, pv).count()
    var rivalFiles: Seq[String] = Nil
    val (g2, m2) = RivalCommit.around(sess) {
      rivalFiles = rivalDay(pv, "24")
    } {
      DailyJob.writeDailyGroupAtomic(spark, out, tmp, day, None)
    }
    assert(g2 == 2L)
    val vPv = m2(ManifestGroup.normKey(pv))
    assert(rivalFiles.nonEmpty &&
      rivalFiles.forall(Manifest.filesAt(spark, pv, vPv).contains),
      "the rival's commit must stay live in the flipped version")
    assert(Manifest.readVersion(spark, pv, vPv).count() == pvDay + 1)
    // overlap: the rival lands on pageviews' written day — abort, no flip
    val tmp2 = Files.createTempDirectory("graft_ga_race2").toString
    DailyJob.writeDailyGroupAtomic(spark, out, tmp2, day, None)     // g1
    val before = ManifestGroup.currentGroup(spark, s"$tmp2/daily").get
    intercept[java.util.ConcurrentModificationException] {
      RivalCommit.around(s"$tmp2/daily/type=sessions") {
        rivalDay(s"$tmp2/daily/type=pageviews", "23"): Unit
      } {
        DailyJob.writeDailyGroupAtomic(spark, out, tmp2, day, None)
      }
    }
    assert(ManifestGroup.currentGroup(spark, s"$tmp2/daily").get == before,
      "an aborted member must leave the group pointer where it was")
  }
}
