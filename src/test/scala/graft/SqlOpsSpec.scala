package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{GraftTable, Manifest}

/** The SQL operational surface (round 12, the injectParser tier):
  * read-side time travel (`VERSION AS OF`) plus DESCRIBE HISTORY /
  * VACUUM / RESTORE / OPTIMIZE ZORDER / CHECKPOINT over manifest
  * tables, each a thin dispatch to the already-spec'd operator.
  * Non-manifest targets keep Spark's own behavior and errors. */
class SqlOpsSpec extends SparkTestBase {
  import spark.implicits._

  private var n = 0
  private def mkTable(): (String, String) = {
    n += 1
    val root = Files.createTempDirectory("graft_sqlops").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L), (4L, "d3", 40L))
      .toDF("id", "day", "v").repartition(2)
      .write.partitionBy("day").parquet(root)
    Manifest.bootstrap(spark, root)
    GraftTable.register(spark, "graft_ops", s"t$n", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v BIGINT, day STRING")), partitionCols = Seq("day"))
    (root, s"graft_ops.t$n")
  }

  private def ids(sql: String): Set[Long] =
    spark.sql(sql).select("id").as[Long].collect().toSet

  test("SELECT … VERSION AS OF: time travel as plain SQL — the pinned " +
    "version replays its files AND deletion vectors") {
    val (root, name) = mkTable()                              // v1
    spark.sql(s"DELETE FROM $name WHERE id IN (1, 2)")        // v2: DV
    Seq((9L, "d9", 90L)).toDF("id", "day", "v")               // v3: append
      .write.mode("append").partitionBy("day").parquet(root)
    val (fs, rootP) = ((new org.apache.hadoop.fs.Path(root))
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(root))
    Manifest.commit(spark, root, Manifest.listDataFiles(fs, rootP))
    assert(ids(s"SELECT * FROM $name") == Set(3L, 4L, 9L))
    assert(ids(s"SELECT * FROM $name VERSION AS OF 1") ==
      Set(1L, 2L, 3L, 4L), "v1 predates the delete")
    assert(ids(s"SELECT * FROM $name VERSION AS OF 2") == Set(3L, 4L),
      "v2 replays the deletion vector, not the later append")
    // predicates/aggregates compose over the pinned plan
    assert(spark.sql(
      s"SELECT sum(v) AS s FROM $name VERSION AS OF 1 WHERE day = 'd1'")
      .as[Long].head() == 30L)
    // unknown version: loud
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $name VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("99"), e.getMessage)
  }

  test("VERSION AS OF on a NON-manifest table keeps Spark's own " +
    "unsupported-feature error; TIMESTAMP AS OF on one stays Spark's " +
    "too (manifest tables now resolve it — tested separately)") {
    val plain = Files.createTempDirectory("graft_sqlops_p").toString + "/p"
    Seq((1L, 2L)).toDF("a", "b").write.parquet(plain)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ops")
    spark.sql("DROP TABLE IF EXISTS graft_ops.plain")
    spark.sql(s"CREATE TABLE graft_ops.plain USING parquet LOCATION '$plain'")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ops.plain VERSION AS OF 1").collect()
    }
    assert(e.getMessage.toLowerCase.contains("time travel"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_ops.plain TIMESTAMP AS OF '2024-01-01'")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("time travel"), e2.getMessage)
  }

  test("DESCRIBE HISTORY: the audit view as SQL — lifecycle operations " +
    "inferred from the log") {
    val (root, name) = mkTable()                              // v1
    spark.sql(s"DELETE FROM $name WHERE id = 1")              // v2: delete
    spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 1")      // v3: restore
    val h = spark.sql(s"DESCRIBE HISTORY $name")
      .select("version", "operation").as[(Long, String)].collect().toMap
    assert(h == Map(1L -> "bootstrap", 2L -> "delete", 3L -> "restore"),
      h.toString)
    assert(ids(s"SELECT * FROM $name") == Set(1L, 2L, 3L, 4L),
      "the SQL restore resurrected the deleted row")
    assert(root.nonEmpty)
  }

  test("OPTIMIZE … ZORDER BY and CHECKPOINT … RETAIN as SQL: layout " +
    "and log maintenance change shape, never truth") {
    val (root, name) = mkTable()
    val before = ids(s"SELECT * FROM $name")
    val v = spark.sql(s"OPTIMIZE $name ZORDER BY (id, v)")
      .as[Long].head()
    assert(v == 2L)
    assert(ids(s"SELECT * FROM $name") == before)
    // churn + CHECKPOINT RETAIN compacts the log
    val live = Manifest.current(spark, root).get._2
    for (_ <- 1 to 30) Manifest.commit(spark, root, live)
    val ck = spark.sql(s"CHECKPOINT $name RETAIN 5 VERSIONS")
      .as[Long].head()
    assert(ck == 32L)
    assert(Manifest.lastCheckpoint(spark, root).contains(32L))
    assert(Manifest.versions(spark, root).size <= 6,
      "RETAIN must have compacted the per-commit suffix")
    assert(ids(s"SELECT * FROM $name") == before)
    // VACUUM RETAIN 1 VERSIONS GRACE 0 HOURS: physical GC, old
    // versions unreadable (the explicit zero-grace opt-out — a bare
    // VACUUM keeps a 7-day grace window, tested below)
    spark.sql(s"VACUUM $name RETAIN 1 VERSIONS GRACE 0 HOURS")
    intercept[Exception](
      spark.sql(s"SELECT * FROM $name VERSION AS OF 2").collect())
    assert(ids(s"SELECT * FROM $name") == before)
  }

  test("bare VACUUM defaults to a 7-day grace window: freshly-written " +
    "unreferenced files survive (a racing writer's staged artifacts " +
    "and same-week time travel are protected)") {
    val (root, name) = mkTable()                              // v1
    // replace the snapshot: v1's files become unreferenced garbage
    val live = Manifest.current(spark, root).get._2
    Seq((9L, "d9", 90L)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(root)
    val (fs, rootP) = ((new org.apache.hadoop.fs.Path(root))
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(root))
    val all = Manifest.listDataFiles(fs, rootP)
    Manifest.commit(spark, root, all.filterNot(live.toSet))   // v2: replace
    spark.sql(s"VACUUM $name") // keep=1, grace=7d: nothing young dies
    val after = Manifest.listDataFiles(fs, rootP).toSet
    assert(live.forall(after), "grace window must keep the young " +
      "unreferenced files a zero-grace vacuum would delete")
    spark.sql(s"VACUUM $name GRACE 0 HOURS") // explicit opt-out
    val after0 = Manifest.listDataFiles(fs, rootP).toSet
    assert(live.forall(f => !after0(f)), "zero grace reclaims them")
  }

  test("the always-on time-travel probe is O(1) for plain statements: " +
    "a statement without the VERSION token never traverses the plan") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.parser.ParserInterface
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
    // a plan that BOOBY-TRAPS traversal: any exists() walk throws
    case class TraversalTrap() extends LeafNode {
      override def output: Seq[Attribute] = Nil
      override def exists(f: LogicalPlan => Boolean): Boolean =
        throw new IllegalStateException("plan traversed")
    }
    val real = spark.sessionState.sqlParser
    val trapDelegate = new ParserInterface {
      override def parsePlan(sqlText: String): LogicalPlan = TraversalTrap()
      override def parseExpression(s: String) = real.parseExpression(s)
      override def parseTableIdentifier(s: String) =
        real.parseTableIdentifier(s)
      override def parseFunctionIdentifier(s: String) =
        real.parseFunctionIdentifier(s)
      override def parseMultipartIdentifier(s: String) =
        real.parseMultipartIdentifier(s)
      override def parseTableSchema(s: String) = real.parseTableSchema(s)
      override def parseDataType(s: String) = real.parseDataType(s)
      override def parseQuery(s: String): LogicalPlan = TraversalTrap()
      override def parseRoutineParam(s: String) = real.parseRoutineParam(s)
    }
    val p = new graft.plans.GraftSqlParser(spark, trapDelegate)
    // no VERSION token → the contains pre-check must skip the walk
    assert(p.parsePlan("SELECT a FROM t WHERE b = 1").isInstanceOf[LeafNode])
    // VERSION present → the probe runs (and trips the trap)
    intercept[IllegalStateException] {
      p.parsePlan("SELECT a FROM t VERSION AS OF 3")
    }
  }

  test("plain OPTIMIZE: bin-packing compaction through the log — file " +
    "count shrinks, content hash identical, old version still " +
    "time-travels (no vacuum side effect)") {
    val (root, name) = mkTable()
    // fragment: 6 tiny appends → many small files per partition
    for (i <- 10 to 15) {
      Seq((i.toLong, s"d${i % 2}", i * 10L)).toDF("id", "day", "v")
        .write.mode("append").partitionBy("day").parquet(root)
      val (fs, rootP) = ((new org.apache.hadoop.fs.Path(root))
        .getFileSystem(spark.sessionState.newHadoopConf()),
        new org.apache.hadoop.fs.Path(root))
      Manifest.commit(spark, root, Manifest.listDataFiles(fs, rootP))
    }
    val before = spark.table(name)
      .select(sum(col("id") * col("v"))).as[Long].head()
    val vPre = Manifest.current(spark, root).get
    val nFilesPre = vPre._2.size
    val v = spark.sql(s"OPTIMIZE $name").as[Long].head()
    val after = Manifest.filesAt(spark, root, v)
    assert(after.size < nFilesPre,
      s"compaction must shrink the file count: $nFilesPre -> ${after.size}")
    assert(spark.table(name)
      .select(sum(col("id") * col("v"))).as[Long].head() == before,
      "content-identical")
    // old snapshot still replays: OPTIMIZE does not vacuum
    assert(ids(s"SELECT * FROM $name VERSION AS OF ${vPre._1}")
      .contains(15L))
  }

  test("OPTIMIZE … ZORDER BY at arity 1 and 3: the generalized curve " +
    "keeps content identical") {
    val (root, name) = mkTable()
    val before = ids(s"SELECT * FROM $name")
    val v1 = spark.sql(s"OPTIMIZE $name ZORDER BY (id)").as[Long].head()
    assert(ids(s"SELECT * FROM $name") == before)
    val v3 = spark.sql(s"OPTIMIZE $name ZORDER BY (id, v, id)")
      .as[Long].head()
    assert(v3 == v1 + 1)
    assert(ids(s"SELECT * FROM $name") == before)
    assert(root.nonEmpty)
  }

  test("CREATE TABLE … USING graft adopts an existing tree; DROP " +
    "TABLE unregisters without touching data; re-CREATE re-adopts the " +
    "commit log") {
    val root = Files.createTempDirectory("graft_sqlddl").toString + "/t"
    Seq((1L, "d1", 10L), (2L, "d2", 20L)).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(root)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ops")
    spark.sql("DROP TABLE IF EXISTS graft_ops.ddl1")
    val ddl = s"""CREATE TABLE graft_ops.ddl1
                 |(id BIGINT, v BIGINT, day STRING)
                 |USING graft PARTITIONED BY (day) LOCATION '$root'""".stripMargin
    val v1 = spark.sql(ddl).as[Long].head()
    assert(v1 == 1L, "CREATE bootstrapped the tree as v1")
    assert(ids("SELECT * FROM graft_ops.ddl1") == Set(1L, 2L))
    // DML through the created name commits through the log
    spark.sql("DELETE FROM graft_ops.ddl1 WHERE id = 1")
    assert(ids("SELECT * FROM graft_ops.ddl1") == Set(2L))
    // duplicate CREATE: loud without IF NOT EXISTS, no-op with
    intercept[IllegalStateException](spark.sql(ddl).collect())
    val vNoop = spark.sql(ddl.replace("CREATE TABLE",
      "CREATE TABLE IF NOT EXISTS")).as[Long].head()
    assert(vNoop == 2L, "IF NOT EXISTS no-ops at the current version")
    // DROP unregisters; data + commit log stay
    spark.sql("DROP TABLE graft_ops.ddl1")
    assert(!spark.catalog.tableExists("graft_ops.ddl1"))
    assert(Manifest.current(spark, root).exists(_._1 == 2L),
      "the commit log must survive the catalog drop")
    val vRe = spark.sql(ddl).as[Long].head()
    assert(vRe == 2L, "re-CREATE adopts the existing log, no rebuild")
    assert(ids("SELECT * FROM graft_ops.ddl1") == Set(2L),
      "the re-adopted table serves the DV-filtered snapshot")
  }

  test("CREATE TABLE … USING graft without LOCATION starts an empty " +
    "warehouse-path table that SQL INSERT then fills; unknown " +
    "TBLPROPERTIES refuse loudly") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_ops")
    spark.sql("DROP TABLE IF EXISTS graft_ops.ddl2")
    // DROP leaves the external tree behind BY DESIGN (re-CREATE
    // adopts it); this test wants a truly fresh table, so wipe the
    // warehouse path a previous suite run may have filled
    val wh = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("ddl2", Some("graft_ops")))
    val whP = new org.apache.hadoop.fs.Path(wh)
    whP.getFileSystem(spark.sessionState.newHadoopConf()).delete(whP, true)
    spark.sql("""CREATE TABLE graft_ops.ddl2
                |(id BIGINT, v BIGINT) USING graft""".stripMargin)
    assert(spark.table("graft_ops.ddl2").count() == 0L,
      "a fresh graft table reads as empty, not as an error")
    spark.sql("INSERT INTO graft_ops.ddl2 VALUES (1, 10), (2, 20)")
    assert(ids("SELECT * FROM graft_ops.ddl2") == Set(1L, 2L))
    spark.sql("DROP TABLE IF EXISTS graft_ops.ddl3")
    intercept[IllegalArgumentException] {
      spark.sql("""CREATE TABLE graft_ops.ddl3 (id BIGINT) USING graft
                  |TBLPROPERTIES ('graft.typo'='x')""".stripMargin)
    }
  }

  test("table_changes TVF: batch CDC with per-commit attribution — " +
    "deletes and inserts tagged by the version that published them") {
    val (root, name) = mkTable()                              // v1
    spark.sql(s"DELETE FROM $name WHERE id = 1")              // v2: DV
    spark.sql(s"INSERT INTO $name VALUES (9, 90, 'd9')")      // v3: append
    val ch = spark.sql(s"SELECT * FROM table_changes('$name', 0, 3)")
    val events = ch.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(events.contains((1L, "insert", 1L)), "v1 bootstrap insert")
    assert(events.contains((1L, "delete", 2L)), "v2 DV delete")
    assert(events.contains((9L, "insert", 3L)), "v3 append insert")
    assert(!events.exists(e => e._1 == 9L && e._2 == "delete"))
    // a bounded sub-range carries only its own commits
    val sub = spark.sql(s"SELECT * FROM table_changes('$name', 2, 3)")
      .select("_commit_version").distinct().as[Long].collect().toSet
    assert(sub == Set(3L))
    // raw-path addressing works too (no catalog entry needed)
    assert(spark.sql(s"SELECT count(*) AS n FROM table_changes('$root', 0, 1)")
      .as[Long].head() == 4L)
    // loud errors: uncommitted version, non-manifest table
    intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$name', 0, 99)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('graft_ops.plain', 0, 1)")
        .collect()
    }
  }

  test("ALTER TABLE ADD COLUMNS: additive evolution through the log — " +
    "old rows null-fill, the sidecar records the evolved schema, " +
    "duplicate/pinned/removal shapes refuse") {
    val (root, name) = mkTable()
    spark.sql(s"ALTER TABLE $name ADD COLUMNS (score BIGINT)").collect()
    assert(Manifest.schemaAt(spark, root, 1L)
      .exists(_.fieldNames.contains("score")), "schema-in-log recorded")
    // next read serves the union schema, old rows null
    val t = spark.table(name)
    assert(t.columns.contains("score"))
    assert(t.where(col("score").isNull).count() == 4L)
    // inserts carry the new column; old files not rewritten
    val before = Manifest.filesAt(spark, root, 1L).toSet
    spark.sql(s"INSERT INTO $name VALUES (9, 90, 77, 'd9')")
    assert(before.subsetOf(Manifest.current(spark, root).get._2.toSet))
    assert(spark.table(name).where(col("id") === 9L)
      .select("score").as[Long].head() == 77L)
    // duplicate column refuses loudly
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE $name ADD COLUMNS (v BIGINT)")
    }
    // a pinned registration is a read snapshot — no ALTER
    GraftTable.register(spark, "graft_ops", s"altpin$n", root,
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v BIGINT, score BIGINT, day STRING")),
      partitionCols = Seq("day"), versionAsOf = Some(1L))
    intercept[UnsupportedOperationException] {
      spark.sql(s"ALTER TABLE graft_ops.altpin$n ADD COLUMNS (x BIGINT)")
    }
  }

  test("DESCRIBE DETAIL: table facts from the log alone — exact row " +
    "count from the stats sidecar minus DV'd rows, null when no " +
    "sidecar exists (never a scan, never a guess)") {
    val (root, name) = mkTable()
    val d0 = spark.sql(s"DESCRIBE DETAIL $name")
      .select("version", "n_files", "n_dvs").as[(Long, Long, Long)].head()
    assert(d0._1 == 1L && d0._3 == 0L)
    assert(spark.sql(s"DESCRIBE DETAIL $name").select("n_rows")
      .collect().head.isNullAt(0), "no stats sidecar -> null, not a scan")
    spark.sql(s"DELETE FROM $name WHERE id = 1")
    Manifest.writeStats(spark, root, 2L)
    val d2 = spark.sql(s"DESCRIBE DETAIL $name")
      .select("version", "n_dvs", "n_rows").as[(Long, Long, Long)].head()
    assert(d2 == ((2L, 1L, 3L)), s"exact live count minus the DV: $d2")
  }

  test("CTAS: CREATE TABLE … USING graft AS SELECT lands the batch " +
    "through the log — one staged commit, immediately readable") {
    val (_, src) = mkTable()
    spark.sql("DROP TABLE IF EXISTS graft_ops.ctas1")
    val loc = Files.createTempDirectory("graft_ctas").toString + "/t"
    val v = spark.sql(
      s"""CREATE TABLE graft_ops.ctas1 USING graft
         |PARTITIONED BY (day) LOCATION '$loc'
         |AS SELECT id, v * 2 AS v, day FROM $src WHERE id <= 3""".stripMargin)
      .as[Long].head()
    assert(v == 2L, "v1 = empty bootstrap, v2 = the CTAS batch commit")
    assert(spark.table("graft_ops.ctas1")
      .select("id", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 20L), (2L, 40L), (3L, 60L)))
    assert(Manifest.current(spark, loc).exists(_._1 == 2L))
    // a mismatched explicit column list refuses loudly
    spark.sql("DROP TABLE IF EXISTS graft_ops.ctas2")
    intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE TABLE graft_ops.ctas2 (a BIGINT, b BIGINT)
                   |USING graft AS SELECT id FROM $src""".stripMargin)
    }
  }

  test("SHOW PARTITIONS answers from the manifest: a DML-created " +
    "partition is visible immediately, an erased one disappears — " +
    "where the metastore answer would be stale both ways") {
    val (root, name) = mkTable()
    assert(spark.sql(s"SHOW PARTITIONS $name")
      .as[String].collect().sorted.toSeq == Seq("day=d1", "day=d2", "day=d3"))
    spark.sql(s"INSERT INTO $name VALUES (9, 90, 'd9')")
    assert(spark.sql(s"SHOW PARTITIONS $name")
      .as[String].collect().toSet.contains("day=d9"),
      "the committed-but-not-metastored partition must show")
    // dynamic overwrite erases d9's only file? no — replace d1 and
    // verify the listing tracks the MANIFEST, not the directory tree
    val live = Manifest.current(spark, root).get._2
    Manifest.commit(spark, root, live.filterNot(_.startsWith("day=d9/")))
    assert(!spark.sql(s"SHOW PARTITIONS $name")
      .as[String].collect().toSet.contains("day=d9"),
      "an erased partition disappears even while its files sit on disk")
    assert(root.nonEmpty)
  }

  test("TIMESTAMP AS OF resolves to the newest version published at " +
    "or before the timestamp; pre-history timestamps fail loudly") {
    val (root, name) = mkTable()                              // v1
    Thread.sleep(1500)
    val mid = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1500)
    spark.sql(s"DELETE FROM $name WHERE id IN (1, 2)")        // v2
    assert(ids(s"SELECT * FROM $name") == Set(3L, 4L))
    assert(ids(s"SELECT * FROM $name TIMESTAMP AS OF '$mid'") ==
      Set(1L, 2L, 3L, 4L), "mid-history timestamp serves v1")
    val now = new java.sql.Timestamp(System.currentTimeMillis() + 1000)
    assert(ids(s"SELECT * FROM $name TIMESTAMP AS OF '$now'") ==
      Set(3L, 4L), "post-delete timestamp serves v2")
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM $name TIMESTAMP AS OF '2001-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no retained version"), e.getMessage)
    // RESTORE to the mid-history timestamp = restore to v1
    val rv = spark.sql(
      s"RESTORE TABLE $name TO TIMESTAMP AS OF '$mid'").as[Long].head()
    assert(rv == 3L, "the restore publishes a NEW version")
    assert(ids(s"SELECT * FROM $name") == Set(1L, 2L, 3L, 4L),
      "the deleted rows are resurrected")
  }

  test("CHECK constraints: ADD validates existing data, every SQL " +
    "write path refuses a violating batch with nothing committed, " +
    "DROP lifts the gate") {
    val (root, name) = mkTable()
    // existing data violates -> the ADD itself refuses
    intercept[IllegalStateException] {
      spark.sql(s"ALTER TABLE $name ADD CONSTRAINT v_small CHECK (v < 15)")
    }
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT v_pos CHECK (v > 0)")
    val vBefore = Manifest.current(spark, root).get
    // violating INSERT: loud, no commit, no stray files
    val e = intercept[IllegalStateException] {
      spark.sql(s"INSERT INTO $name VALUES (9, -5, 'd9')")
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(Manifest.current(spark, root).get == vBefore,
      "a refused batch commits nothing")
    // violating UPDATE: loud, version unchanged
    intercept[IllegalStateException] {
      spark.sql(s"UPDATE $name SET v = v - 100 WHERE id = 1")
    }
    assert(Manifest.current(spark, root).get._1 == vBefore._1)
    // violating MERGE: loud
    Seq((1L, "d1", -1L)).toDF("id", "day", "v")
      .createOrReplaceTempView("chk_src")
    intercept[IllegalStateException] {
      spark.sql(s"""MERGE INTO $name t USING chk_src s ON t.id = s.id
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // satisfying writes pass; NULL satisfies (standard CHECK semantics)
    spark.sql(s"INSERT INTO $name VALUES (9, 90, 'd9')")
    assert(ids(s"SELECT * FROM $name").contains(9L))
    // DROP lifts the gate; unknown names refuse
    spark.sql(s"ALTER TABLE $name DROP CONSTRAINT v_pos")
    spark.sql(s"INSERT INTO $name VALUES (10, -1, 'd9')")
    assert(ids(s"SELECT * FROM $name").contains(10L))
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE $name DROP CONSTRAINT nope")
    }
  }

  test("ALTER TABLE RENAME COLUMN via column mapping: old files stay " +
    "valid, reads/INSERT/DML/OPTIMIZE serve the new name, time travel " +
    "across the boundary serves each version's OWN names") {
    val (root, name) = mkTable()                              // v1
    val filesV1 = Manifest.current(spark, root).get._2
    spark.sql(s"ALTER TABLE $name RENAME COLUMN v TO score") // v2: metadata
    assert(Manifest.filesAt(spark, root, 2L) == filesV1,
      "a rename is a METADATA commit — no data file moves")
    assert(spark.table(name).columns.toSeq == Seq("id", "score", "day"))
    assert(spark.table(name).agg(sum("score")).as[Long].head() == 100L,
      "pre-rename files serve their rows under the NEW name")
    // INSERT binds the new name; old and new files coalesce
    spark.sql(s"INSERT INTO $name VALUES (9, 90, 'd9')")
    assert(spark.table(name).agg(sum("score")).as[Long].head() == 190L)
    // DML written against the new name matches PRE-rename rows
    spark.sql(s"UPDATE $name SET score = score + 1 WHERE id = 1")
    spark.sql(s"DELETE FROM $name WHERE score = 20")
    assert(spark.table(name).agg(sum("score")).as[Long].head() == 171L)
    // time travel across the boundary: v1 = old name, later = new
    val v1 = spark.sql(s"SELECT * FROM $name VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "v", "day"),
      "a pre-rename version serves the OLD column name")
    assert(v1.agg(sum("v")).as[Long].head() == 100L)
    assert(spark.sql(s"SELECT * FROM $name VERSION AS OF 2")
      .columns.contains("score"))
    // a rewrite (OPTIMIZE) materializes logical names, content intact
    spark.sql(s"OPTIMIZE $name")
    assert(spark.table(name).agg(sum("score")).as[Long].head() == 171L)
  }

  test("RENAME COLUMN racing an append between plan and publish: the " +
    "rival's rows survive the rename and serve under the new name") {
    val (root, name) = mkTable()                              // v1
    val rootP = new org.apache.hadoop.fs.Path(root)
    var rivalFiles: Seq[String] = Nil
    RivalCommit.around(root) {
      // a path-addressed writer still on the pre-rename (physical) names
      rivalFiles = Manifest.stageUniqueParts(spark,
        rootP.getFileSystem(spark.sessionState.newHadoopConf()), rootP,
        Seq("day"), Seq((9L, "d9", 90L)).toDF("id", "day", "v"))
      val (cur, live) = Manifest.current(spark, root).get
      assert(Manifest.tryCommit(spark, root, live ++ rivalFiles, cur)
        .isDefined)                                           // v2: rival
    } {
      spark.sql(s"ALTER TABLE $name RENAME COLUMN v TO score") // v3
    }
    val (v, live) = Manifest.current(spark, root).get
    assert(v == 3L, s"the rename rebased onto the rival's slot: $v")
    assert(rivalFiles.nonEmpty && rivalFiles.forall(live.contains),
      "the rival's appended file must stay live")
    assert(spark.table(name).columns.toSeq == Seq("id", "score", "day"))
    assert(spark.table(name).agg(sum("score")).as[Long].head() == 190L)
  }

  test("INSERT INTO racing an append between stage and publish: the " +
    "insert re-picks its publish list at the head and both batches stay " +
    "live") {
    val (root, name) = mkTable()                              // v1
    val rootP = new org.apache.hadoop.fs.Path(root)
    var rivalFiles: Seq[String] = Nil
    val res = RivalCommit.around(root) {
      rivalFiles = Manifest.stageUniqueParts(spark,
        rootP.getFileSystem(spark.sessionState.newHadoopConf()), rootP,
        Seq("day"), Seq((8L, "d8", 80L)).toDF("id", "day", "v"))
      val (cur, live) = Manifest.current(spark, root).get
      assert(Manifest.tryCommit(spark, root, live ++ rivalFiles, cur)
        .isDefined)                                           // v2: rival
    } {
      spark.sql(s"INSERT INTO $name VALUES (9, 90, 'd9')")    // v3
        .as[(Long, Long)].head()
    }
    assert(res == (3L, 1L), s"the insert took the next slot: $res")
    val live = Manifest.current(spark, root).get._2
    assert(rivalFiles.nonEmpty && rivalFiles.forall(live.contains),
      "the rival's appended file must stay live")
    assert(ids(s"SELECT id FROM $name") == Set(1L, 2L, 3L, 4L, 8L, 9L))
    assert(Manifest.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("RENAME COLUMN refusal shapes: partition columns, name " +
    "collisions (logical AND prior physical), CHECK references") {
    val (_, name) = mkTable()
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE $name RENAME COLUMN day TO d")
    }
    spark.sql(s"ALTER TABLE $name RENAME COLUMN v TO score")
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE $name RENAME COLUMN score TO id")
    }
    intercept[IllegalArgumentException] {
      // `v` is now a PRIOR PHYSICAL name of score — still reserved
      spark.sql(s"ALTER TABLE $name RENAME COLUMN id TO v")
    }
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT s_pos CHECK (score > 0)")
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE $name RENAME COLUMN score TO points")
    }
    assert(e.getMessage.contains("s_pos"), e.getMessage)
    // the constraint itself survived and still gates
    intercept[IllegalStateException] {
      spark.sql(s"INSERT INTO $name VALUES (9, -1, 'd9')")
    }
  }

  test("CHECK constraints hold on EVERY write path via the log " +
    "sidecar: a direct library Manifest.commit refuses a violating " +
    "batch; RESTORE to a pre-constraint snapshot stays exempt") {
    val (root, name) = mkTable()                               // v1
    // pre-constraint history containing a VIOLATING row …
    spark.sql(s"INSERT INTO $name VALUES (5, -5, 'd4')")       // v2
    // … then erased (file-level), so the constraint can be declared
    val live2 = Manifest.current(spark, root).get._2
    Manifest.commit(spark, root,
      live2.filterNot(_.startsWith("day=d4/")))                // v3
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT v_pos CHECK (v > 0)")
    val (fs, rootP) = (new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(root))
    // a PATH-ADDRESSED writer that never consults the catalog
    val staged = Manifest.stageUniqueParts(spark, fs, rootP, Seq("day"),
      Seq((99L, -5L, "d9")).toDF("id", "v", "day"))
    val before = Manifest.current(spark, root).get
    val e = intercept[IllegalStateException] {
      Manifest.commit(spark, root, before._2 ++ staged)
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(Manifest.current(spark, root).get == before,
      "the violating library commit must publish nothing")
    // a satisfying batch from the same path-addressed writer lands
    val good = Manifest.stageUniqueParts(spark, fs, rootP, Seq("day"),
      Seq((99L, 5L, "d9")).toDF("id", "v", "day"))
    Manifest.commit(spark, root, before._2 ++ good)             // v4
    assert(ids(s"SELECT * FROM $name").contains(99L))
    // RESTORE replays history verbatim — exempt from the gate: the v2
    // snapshot RE-ADDS the violating d4 file and must still restore
    spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 2")
    assert(ids(s"SELECT * FROM $name") == Set(1L, 2L, 3L, 4L, 5L),
      "the auditor's undo resurrects pre-constraint history")
  }

  test("OPTIMIZE … WHERE as SQL: scoped to partition predicates " +
    "(composing with ZORDER BY as a scoped re-cluster), refusing " +
    "non-partition references and unpartitioned targets") {
    val (root, name) = mkTable()
    // fragment day=d1 further
    (1 to 4).foreach(k =>
      spark.sql(s"INSERT INTO $name VALUES (${100 + k}, ${k}0, 'd1')"))
    val before = Manifest.current(spark, root).get._2
    assert(before.count(_.startsWith("day=d1/")) >= 4)
    spark.sql(s"OPTIMIZE $name WHERE day = 'd1'")
    val after = Manifest.current(spark, root).get._2
    assert(after.count(_.startsWith("day=d1/")) == 1, "d1 compacted")
    assert(after.filterNot(_.startsWith("day=d1/")) ==
      before.filterNot(_.startsWith("day=d1/")),
      "out-of-scope leaves byte-untouched")
    assert(ids(s"SELECT * FROM $name") ==
      Set(1L, 2L, 3L, 4L, 101L, 102L, 103L, 104L))
    intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE $name WHERE v > 5") // not a partition column
    }
    // WHERE + ZORDER (the Delta composition): re-cluster ONLY the
    // scoped leaves; out-of-scope leaves byte-untouched
    val preZ = Manifest.current(spark, root).get._2
    spark.sql(s"OPTIMIZE $name WHERE day = 'd1' ZORDER BY (id)")
    val postZ = Manifest.current(spark, root).get._2
    assert(postZ.filterNot(_.startsWith("day=d1/")) ==
      preZ.filterNot(_.startsWith("day=d1/")),
      "scoped ZORDER must not touch out-of-scope leaves")
    assert(postZ.filter(_.startsWith("day=d1/")).toSet
      .intersect(preZ.filter(_.startsWith("day=d1/")).toSet).isEmpty,
      "in-scope leaves are re-clustered (fresh files)")
    assert(ids(s"SELECT * FROM $name") ==
      Set(1L, 2L, 3L, 4L, 101L, 102L, 103L, 104L))
  }

  test("CTAS binds by NAME: a partition column mid-query lands in its " +
    "own column despite Spark reordering partition columns last") {
    val (_, src) = mkTable()
    spark.sql("DROP TABLE IF EXISTS graft_ops.ctas_mid")
    val loc = Files.createTempDirectory("graft_ctas_mid").toString + "/t"
    // `day` is NOT last in the query output: a positional INSERT
    // against the catalog's reordered (id, v, day) schema would bind
    // day->v (and v->day) — silently swapped data or a cast error
    spark.sql(
      s"""CREATE TABLE graft_ops.ctas_mid USING graft
         |PARTITIONED BY (day) LOCATION '$loc'
         |AS SELECT id, day, v * 2 AS v FROM $src WHERE id <= 3""".stripMargin)
    assert(spark.table("graft_ops.ctas_mid")
      .select("id", "v", "day").as[(Long, Long, String)].collect().toSet ==
      Set((1L, 20L, "d1"), (2L, 40L, "d1"), (3L, 60L, "d2")))
  }

  test("CTAS into a NON-EMPTY location refuses (stock Spark/Delta " +
    "semantics) — plain CREATE keeps the adoption path") {
    val (srcRoot, src) = mkTable()
    spark.sql("DROP TABLE IF EXISTS graft_ops.ctas_ne")
    // the source table's own root is a non-empty tree
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"""CREATE TABLE graft_ops.ctas_ne USING graft
                   |PARTITIONED BY (day) LOCATION '$srcRoot'
                   |AS SELECT id, v, day FROM $src""".stripMargin)
    }
    assert(e.getMessage.contains("non-empty location"), e.getMessage)
    assert(!spark.catalog.tableExists("graft_ops.ctas_ne"))
    // non-CTAS CREATE over the same tree still adopts it
    spark.sql(s"""CREATE TABLE graft_ops.ctas_ne
                 |(id BIGINT, v BIGINT, day STRING) USING graft
                 |PARTITIONED BY (day) LOCATION '$srcRoot'""".stripMargin)
    assert(ids("SELECT * FROM graft_ops.ctas_ne") == Set(1L, 2L, 3L, 4L))
    spark.sql("DROP TABLE graft_ops.ctas_ne")
  }

  test("FOR SYSTEM_TIME AS OF — Spark's SQL-2011 time-travel spelling " +
    "resolves on a manifest table like TIMESTAMP AS OF") {
    val (_, name) = mkTable()                                 // v1
    Thread.sleep(1200)
    val mid = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1200)
    spark.sql(s"DELETE FROM $name WHERE id IN (1, 2)")        // v2
    assert(ids(s"SELECT * FROM $name FOR SYSTEM_TIME AS OF '$mid'") ==
      Set(1L, 2L, 3L, 4L), "SYSTEM_TIME spelling serves v1")
    assert(ids(s"SELECT * FROM $name FOR SYSTEM_VERSION AS OF 1") ==
      Set(1L, 2L, 3L, 4L), "SYSTEM_VERSION spelling serves v1")
  }

  test("maintenance statements refuse non-manifest targets loudly; " +
    "everything else delegates verbatim") {
    intercept[UnsupportedOperationException] {
      spark.sql("DESCRIBE HISTORY graft_ops.plain")
    }
    intercept[UnsupportedOperationException] {
      spark.sql("VACUUM graft_ops.plain")
    }
    // ordinary SQL is untouched by the wrapper
    assert(spark.sql("SELECT 1 + 1 AS x").as[Int].head() == 2)
    assert(spark.sql("DESCRIBE TABLE graft_ops.plain").count() > 0)
  }
}
