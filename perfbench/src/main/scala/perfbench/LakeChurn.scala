package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.Manifest

/** `lake_churn`: small commits beside reads on one manifest table,
  * driven through the `USING graft` SQL surface while its log grows.
  *
  * The op script comes from the seed. A pass is four commits, one each
  * of INSERT, MERGE, DELETE and UPDATE (DELETE and UPDATE write
  * deletion vectors) in seeded order, each followed by a read: the
  * snapshot, a `VERSION AS OF` a seeded earlier version, the snapshot
  * again, and the `table_changes` of the last two commits. Then one
  * OPTIMIZE and one CHECKPOINT. The work per pass is fixed; the seed
  * picks the order, the rows each commit touches and the version read.
  * No log entry is ever removed, so every pass reads a longer log.
  *
  * Checks: an in-memory model replays the same script. Every commit's
  * affected-row count, every read's (count, sum k, sum v) at its
  * version, every change range's net row count, and the final live rows
  * (count and order-insensitive hash) must equal the model's.
  */
final class LakeChurn(spark: SparkSession, c: Conf) extends Workload {
  // the base INSERT is the set-up; at 200k rows it writes enough data
  // that set-up time is not just per-statement latency, which varies
  // most from run to run
  private val baseRows = if (c.smoke) 400L else 200000L
  private val table = "lake.churn"
  private val root = c.work.resolve("lake").resolve("churn").toString
  private val rng = new SplittableRandom(c.seed)

  /** Model: key → (v, s, g); aggregates (count, sum k, sum v) per version. */
  private val rows = mutable.HashMap.empty[Long, (Long, String, String)]
  private val atVersion = mutable.LinkedHashMap.empty[Long, (Long, Long, Long)]
  private val kindAt = mutable.HashMap.empty[Long, String]
  private var head = 0L
  private var nextKey = 0L
  private var opNo = 0L
  private val optimizeBytes = mutable.ArrayBuffer.empty[Double]

  /** A pass costs about ten seconds warm, so one is measured: the first
    * warm pass's CPU time is the steadiest from run to run, and a second
    * would not fit the time budget. */
  override def minWarm: Int = 1
  override def setupReps: Int = 5

  private def g(k: Long) = Seq("a", "b", "c", "d")(Math.floorMod(k, 4L).toInt)
  private def sqlRow(k: String, v: String, s: String) =
    s"$k AS k, $v AS v, $s AS s, element_at(array('a','b','c','d'), cast(pmod($k, 4) + 1 AS int)) AS g"

  private def aggregates = (rows.size.toLong, rows.keys.sum, rows.values.map(_._1).sum)

  def setup(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS lake")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new Path(root)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    rows.clear(); atVersion.clear(); kindAt.clear()
    spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, s STRING, g STRING) " +
      s"USING graft PARTITIONED BY (g) LOCATION '$root'").collect()
    val r = spark.sql(s"INSERT INTO $table SELECT ${sqlRow("id", "pmod(id * 31, 1000)",
      "concat('p', cast(pmod(id, 97) AS string))")} FROM range(0, $baseRows, 1, 1)").head()
    (0L until baseRows).foreach(k => rows(k) = (Math.floorMod(k * 31, 1000L), s"p${k % 97}", g(k)))
    head = r.getLong(0)
    atVersion(head) = aggregates
    nextKey = baseRows
    opNo = 0
  }

  /** Runs one statement, returning (version, rows) from its result. */
  private def dml(sql: String): (Long, Long) = {
    val r = spark.sql(sql).head()
    (r.getLong(0), if (r.length > 1) r.getLong(1) else 0L)
  }

  private def commitOp(kind: String): Op = {
    opNo += 1
    val op = opNo
    val t0 = System.nanoTime()
    val (sql, expectRows, apply) = kind match {
      case "insert" =>
        val lo = nextKey; val hi = lo + 200; nextKey = hi
        (s"INSERT INTO $table SELECT ${sqlRow("id", s"pmod(id * 31 + $op, 1000)",
          "concat('p', cast(pmod(id, 97) AS string))")} FROM range($lo, $hi, 1, 1)", 200L,
          () => (lo until hi).foreach(k => rows(k) = (Math.floorMod(k * 31 + op, 1000L), s"p${k % 97}", g(k))))
      case "merge" =>
        // existing keys only (live or deleted): a merge must never take
        // a key a later INSERT will append
        val lo = rng.nextLong(math.max(1L, nextKey - 150)); val hi = math.min(lo + 150, nextKey)
        spark.sql(s"CREATE OR REPLACE TEMP VIEW churn_src AS SELECT ${sqlRow("id",
          s"pmod(id * 17 + $op, 1000)", s"'m$op'")} FROM range($lo, $hi, 1, 1)")
        (s"MERGE INTO $table t USING churn_src s ON t.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", hi - lo,
          () => (lo until hi).foreach(k => rows(k) = (Math.floorMod(k * 17 + op, 1000L), s"m$op", g(k))))
      case "delete" =>
        val m = 53L; val r = rng.nextLong(m); val lo = rng.nextLong(nextKey); val hi = lo + 4000
        val hit = rows.keys.filter(k => Math.floorMod(k, m) == r && k >= lo && k < hi).toSeq
        (s"DELETE FROM $table WHERE pmod(k, $m) = $r AND k >= $lo AND k < $hi", hit.size.toLong,
          () => hit.foreach(rows.remove))
      case "update" =>
        val m = 41L; val r = rng.nextLong(m); val lo = rng.nextLong(nextKey); val hi = lo + 4000
        val hit = rows.keys.filter(k => Math.floorMod(k, m) == r && k >= lo && k < hi).toSeq
        (s"UPDATE $table SET v = v + 7, s = 'u$op' WHERE pmod(k, $m) = $r AND k >= $lo AND k < $hi",
          hit.size.toLong,
          () => hit.foreach { k => val (v, _, gg) = rows(k); rows(k) = (v + 7, s"u$op", gg) })
    }
    val err = try {
      val (v, n) = Trace.span("commit")(dml(sql))
      apply()
      if (v > head) { head = v; atVersion(v) = aggregates; kindAt(v) = kind }
      if (n != expectRows) Some(s"lake_churn $kind #$op: $n rows, expected $expectRows") else None
    } catch { case NonFatal(e) => Some(s"lake_churn $kind #$op failed: $e") }
    Op("commit", Stats.secs(t0), err)
  }

  /** One read: 0 = snapshot, 1 = `VERSION AS OF` a seeded earlier
    * version, 2 = `table_changes` over the last two commits. */
  private def readOp(kind: Int): Op = {
    val t0 = System.nanoTime()
    val vs = atVersion.keys.toIndexedSeq
    val err = try Trace.span("read") {
      kind match {
        case 0 | 1 =>
          val v = if (kind == 0) head else vs(rng.nextInt(vs.size))
          val from = if (kind == 0) "" else s" VERSION AS OF $v"
          val r = spark.sql(s"SELECT count(*), coalesce(sum(k), 0), coalesce(sum(v), 0) " +
            s"FROM $table$from").head()
          val got = (r.getLong(0), r.getLong(1), r.getLong(2))
          if (got != atVersion(v)) Some(s"lake_churn read at v$v: $got, expected ${atVersion(v)}")
          else None
        case _ =>
          // a recent window, as an incremental consumer reads it
          val from = vs(math.max(0, vs.size - 3))
          val r = spark.sql(s"SELECT _commit_version, _change_type, count(*) " +
            s"FROM table_changes('$table', $from, $head) GROUP BY 1, 2").collect()
            .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
          def netOf(rs: Seq[(Long, String, Long)]) =
            rs.filter(_._2.matches("insert|update_postimage")).map(_._3).sum -
              rs.filter(_._2.matches("delete|update_preimage")).map(_._3).sum
          val net = netOf(r.toSeq)
          val want = atVersion(head)._1 - atVersion(from)._1
          // on a mismatch, name the first commit whose events disagree
          lazy val firstBad = vs.zip(vs.drop(1)).filter(_._2 > from).find { case (a, b) =>
            netOf(r.toSeq.filter(_._1 == b)) != atVersion(b)._1 - atVersion(a)._1
          }.map { case (_, b) => s"; first bad step v$b (${kindAt.getOrElse(b, "?")}): " +
            r.filter(_._1 == b).map(x => s"${x._2}=${x._3}").mkString(",") +
            s", model delta ${atVersion(b)._1 - atVersion(vs(vs.indexOf(b) - 1))._1}" }
          if (net != want)
            Some(s"lake_churn changes ($from, $head]: net $net, expected $want${firstBad.getOrElse("")}")
          else None
      }
    } catch { case NonFatal(e) => Some(s"lake_churn read failed: $e") }
    Op("read", Stats.secs(t0), err)
  }

  private def maintenance(stmt: String): Op = {
    val t0 = System.nanoTime()
    val err = try {
      val traced = Trace.enabled && stmt == "OPTIMIZE"
      val before = if (traced) Trace.snapshot()("bytes_written") else 0.0
      val (v, _) = Trace.span(stmt.toLowerCase)(dml(s"$stmt $table"))
      if (traced) optimizeBytes += Trace.snapshot()("bytes_written") - before
      if (v > head) { head = v; atVersion(v) = aggregates; kindAt(v) = stmt.toLowerCase }
      None
    } catch { case NonFatal(e) => Some(s"lake_churn $stmt failed: $e") }
    Op(stmt.toLowerCase, Stats.secs(t0), err)
  }

  def pass(traced: Boolean): Seq[Op] = {
    val kinds = Stats.shuffled(Seq("insert", "merge", "delete", "update"), rng)
    // the reads by position: snapshot, earlier version, snapshot, changes
    kinds.zip(Seq(0, 1, 0, 2)).flatMap { case (k, r) => Seq(commitOp(k), readOp(r)) } ++
      Seq(maintenance("OPTIMIZE"), maintenance("CHECKPOINT"))
  }

  def finalChecks(): Seq[String] = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType),
      StructField("s", StringType), StructField("g", StringType)))
    val model = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.toSeq.map { case (k, (v, s, gg)) => Row(k, v, s, gg) }), schema)
    val got = QuerySet.hash(spark.table(table).select("k", "v", "s", "g"))
    val want = QuerySet.hash(model)
    if (got != want) Seq(s"lake_churn live rows: $got, expected $want") else Nil
  }

  private def dirStats(): (Double, Double, Double, Double, Double) = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    var all = 0L; var logs = 0L; var dvs = 0L
    val it = fs.listFiles(rootP, true)
    while (it.hasNext) {
      val f = it.next(); val p = f.getPath.toUri.getPath
      if (!f.getPath.getName.endsWith(".crc")) {
        all += f.getLen
        if (p.contains(s"/${Manifest.Dir}/")) logs += 1
        if (p.contains(s"/${Manifest.DvDir}/")) dvs += 1
      }
    }
    val live = Manifest.current(spark, root).map(_._2).getOrElse(Nil)
    val liveBytes = live.map(f => fs.getFileStatus(new Path(rootP, f)).getLen).sum
    (all.toDouble / math.max(1L, liveBytes), logs.toDouble, dvs.toDouble, live.size.toDouble, liveBytes.toDouble)
  }

  def layers(warm: Seq[Seq[Span]]): Map[String, Double] = {
    val spans = warm.flatten
    def per(names: Set[String], k: String) = {
      val ss = spans.filter(s => names(s.name))
      if (ss.isEmpty) 0.0 else ss.map(_.deltas.getOrElse(k, 0.0)).sum / ss.size
    }
    val ops = Set("commit", "read", "optimize", "checkpoint")
    val (amp, logs, dvs, files, _) = dirStats()
    Layers.perOp(spans.filter(s => ops(s.name))) ++ Map(
      "sources.commit.self_s" -> per(Set("commit"), "fs_log_s"),
      "sources.commit.attempts" -> per(Set("commit"), "commit_attempts"),
      "sources.commit.retries" -> per(Set("commit"), "commit_retries"),
      "sources.resolve_s" -> per(Set("read"), "fs_log_s"),
      "sources.optimize.bytes_rewritten" ->
        (if (optimizeBytes.isEmpty) 0.0 else optimizeBytes.sum / optimizeBytes.size),
      "sources.log_files" -> logs, "sources.dv_files" -> dvs,
      "sources.snapshot_files" -> files, "sources.write_amp" -> amp)
  }

  override def details(ops: Seq[Op]): Map[String, Any] = {
    val (amp, logs, dvs, files, liveBytes) = dirStats()
    Map("write_amp" -> amp, "log_files" -> logs, "dv_files" -> dvs,
      "snapshot_files" -> files, "live_bytes" -> liveBytes, "versions" -> head,
      "live_rows" -> rows.size)
  }
}
