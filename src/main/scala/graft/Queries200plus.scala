package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetSchema, Tables}
import graft.operators.{Attribution, Ecommerce, Sessionization}
import graft.ingest.Ingest
import graft.functions.GaFunctions

/** One third of the driver-contract query registry (split from the
  * single 12k-line SparkEntry per the round-12 verdict — pure move, no
  * behavior change): queries q200+. Shared fixtures, memos, and numeric
  * conventions live in [[SparkEntry]]; the registry is the union of
  * the three chunk objects. */
private[graft] object Queries200plus {
  import SparkEntry._

  val m: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ADDITIVE SCHEMA EVOLUTION AS SQL (the q249 library machinery as
    // a statement): ALTER TABLE … ADD COLUMNS records the evolved
    // schema in the commit log (schema-<v> sidecar) and re-registers
    // the catalog entry; the next INSERT lands rows WITH the column
    // beside old files WITHOUT it, and the very next read serves the
    // union schema with deterministic null-fill. Gates pin: the
    // sidecar exists, old files were not rewritten, and every
    // pre-evolution row reads the new column as null (counted
    // exactly). Hash = base (discount 0) + the %113 slice carrying
    // price div 10.
    "q261_sql_alter_add_column" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlalt")
      ensureLakeFixture(s, dir, "q261_sql_alter_add_column") {
        fixOrdersTable(s, dir, "graft_sqlalt"); ()
      }
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.sqlalt_$tag"
      GraftTable.register(s, "graft_unified", s"sqlalt_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val before = Manifest.current(s, layout).get._2.toSet
      val baseN = facts.count()
      s.sql(s"ALTER TABLE $name ADD COLUMNS (discount_cents BIGINT)")
        .collect(): Unit
      facts.where(pmod(col("o_orderkey"), lit(113)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(300000000L))
        .select(col("o_orderkey"), col("custkey"), col("price_cents"),
          expr("price_cents div 10").as("discount_cents"), col("w"))
        .createOrReplaceTempView(s"sqlalt_src_$tag")
      s.sql(s"INSERT INTO $name SELECT * FROM sqlalt_src_$tag")
        .collect(): Unit
      val t = s.table(name)
      val gate =
        Manifest.schemaAt(s, layout, 2L)
          .exists(_.fieldNames.contains("discount_cents")) &&
        before.subsetOf(Manifest.current(s, layout).get._2.toSet) &&
        t.where(col("discount_cents").isNull).count() == baseN
      t.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"),
          sum(coalesce(col("discount_cents"), lit(0L)))
            .as("sum_discount_cents"))
        .withColumn("gate_sql_alter", lit(gate))
    }),

    // DESCRIBE DETAIL — table facts FROM THE LOG ALONE (the Delta
    // statement): current version, live files, live DV artifacts, and
    // the EXACT live row count served from the stats sidecar with the
    // per-file DV counts subtracted — zero data IO (the countRows
    // contract, now SQL-visible). The fixture writes exactly one file
    // per wave (repartition BY the partition column), so n_files is
    // deterministic at any scale factor; the merge-on-read delete
    // contributes the DV and the row-count subtraction.
    "q262_describe_detail" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqldd")
      ensureLakeFixture(s, dir, "q262_describe_detail")(fixQ262(s, dir))
      val name = s"graft_unified.sqldd_$tag"
      GraftTable.register(s, "graft_unified", s"sqldd_$tag", layout,
        schema = Some(ordersFacts(s, dir).schema),
        partitionCols = Seq("w"))
      s.sql(s"DELETE FROM $name WHERE custkey % 131 = 0").collect(): Unit
      // empty-input robustness: a no-match delete commits nothing, so
      // stats go to whatever version is actually current
      Manifest.writeStats(s, layout, Manifest.current(s, layout).get._1)
      s.sql(s"DESCRIBE DETAIL $name")
        .select("version", "n_files", "n_dvs", "n_rows")
    }),

    // SQL CHECK CONSTRAINTS (the Delta write-time-gate design over
    // the commitChecked machinery): ALTER TABLE ADD CONSTRAINT
    // declares `price_cents >= 0` in the catalog; a poisoned INSERT
    // (the %127 slice with NEGATED prices) is REFUSED in one
    // aggregation pass with NOTHING committed — version unchanged,
    // zero stray files — and the corrected batch then lands normally.
    // Gates pin the refusal (version + listing identical around it)
    // and the error naming the constraint; hash = base + the valid
    // re-keyed slice, exactly q256's truth, now behind the gate.
    "q264_sql_check_constraint" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlchk")
      ensureLakeFixture(s, dir, "q264_sql_check_constraint") {
        fixOrdersTable(s, dir, "graft_sqlchk"); ()
      }
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.sqlchk_$tag"
      GraftTable.register(s, "graft_unified", s"sqlchk_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      s.sql(s"ALTER TABLE $name ADD CONSTRAINT price_pos " +
        s"CHECK (price_cents >= 0)").collect(): Unit
      val slice = facts.where(pmod(col("o_orderkey"), lit(127)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
      slice.withColumn("price_cents", -col("price_cents") - 1L)
        .createOrReplaceTempView(s"sqlchk_bad_$tag")
      slice.createOrReplaceTempView(s"sqlchk_ok_$tag")
      val before = Manifest.current(s, layout).get
      val listing = lakeListing(s, layout)
      val refused =
        try { s.sql(s"INSERT INTO $name SELECT * FROM sqlchk_bad_$tag")
                .collect(); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("price_pos") }
      val unchanged = Manifest.current(s, layout).get == before &&
        lakeListing(s, layout) == listing
      s.sql(s"INSERT INTO $name SELECT * FROM sqlchk_ok_$tag")
        .collect(): Unit
      s.table(name)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_refused", lit(refused))
        .withColumn("gate_nothing_committed", lit(unchanged))
    }),

    // SHOW PARTITIONS from the manifest (stock Spark answers from
    // METASTORE entries, which go stale the moment a commit adds or
    // erases a partition — the DML path never touches the metastore):
    // an INSERT lands a brand-new wave 9 through the log, and the very
    // next SHOW PARTITIONS lists it. The stock statement on the same
    // table would still show only waves 1-5 — gate_fresh pins the
    // difference by counting the manifest leaves directly.
    "q263_sql_show_partitions" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlshw")
      ensureLakeFixture(s, dir, "q263_sql_show_partitions") {
        fixOrdersTable(s, dir, "graft_sqlshw"); ()
      }
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.sqlshw_$tag"
      GraftTable.register(s, "graft_unified", s"sqlshw_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      facts.where(pmod(col("o_orderkey"), lit(211)) === 0)
        .withColumn("w", lit("9"))
        .createOrReplaceTempView(s"sqlshw_src_$tag")
      s.sql(s"INSERT INTO $name SELECT * FROM sqlshw_src_$tag")
        .collect(): Unit
      val shown = s.sql(s"SHOW PARTITIONS $name")
      val manifestLeaves = Manifest.current(s, layout).get._2
        .map(Manifest.leafDirOf(_, Seq("w"))).distinct.sorted
      val gate = shown.orderBy("partition")
        .collect().map(_.getString(0)).toSeq == manifestLeaves
      shown.withColumn("gate_fresh", lit(gate))
    }),

    // Modularity scoring of two partitions of the same co-purchase
    // graph: connected components (real structure — every edge intra)
    // vs an md5 8-bucket null partition (must score ≈ 0). Detection
    // without scoring can't tell structure from chance; Q on the exact
    // 4m² denominator makes the comparison a hash-gated integer.
    "q200_modularity" -> ((s, dir) => {
      import graft.operators.Modularity
      import graft.llm.{DedupClusters, Splits}
      val co = copurchasePairs(s, dir) // memo is already checkpointed
      val cc = DedupClusters.components(
        co.select(col("pu").as("doc_a"), col("pv").as("doc_b")))
      val nodes = co.select(col("pu").as("node"))
        .union(co.select(col("pv").as("node"))).distinct()
      val hash8 = nodes.select(col("node"),
        Splits.md5Bucket(col("node"), 8).as("community"))
      Modularity.score(co, col("pu"), col("pv"),
          cc, col("doc_id"), col("cluster_id"))
        .withColumn("method", lit("components"))
        .unionByName(
          Modularity.score(co, col("pu"), col("pv"),
              hash8, col("node"), col("community"))
            .withColumn("method", lit("hash8")))
    }),

    // Vocabulary richness per language: hapax/dis legomena, the Chao1
    // lower bound on the true type count, and the Good–Turing unseen
    // mass (the probability the NEXT token is a new type) — the report
    // a tokenizer vocab budget is planned against. Exact rationals.
    "q201_vocab_richness" -> ((s, dir) => {
      import graft.llm.TextOps
      TextOps.vocabRichness(Tables.documents(s, dir),
        col("lang"), col("text"))
    }),

    // Cohen's κ over repeated duels — the quality gate on the
    // preference data BEFORE q191 aggregates it: for every supplier
    // pair judged at least twice, do the first two judgments agree
    // beyond what their own marginals produce by chance? Rater 1/2 =
    // the first two duels per pair in (order, line, supplier,
    // quantity, outcome) order — the outcome tie-break keeps the b/c
    // split deterministic.
    // Day-of-week seasonality profile per event type: observed share
    // vs the uniform 1/7 expectation, exact ppm — the weekly-shape
    // fingerprint a seasonal-naive forecast (q197) presumes and an
    // anomaly rule must not fire on. dow derives from the epoch day
    // ((d+3) mod 7, 0 = Monday), identical on both engines.
    // Spearman rank correlation between metric pairs — q154's robust
    // twin: Pearson on DOUBLED average ranks (2·rank_min + ties − 1,
    // the q192 integer trick — scaling ranks by 2 leaves r unchanged),
    // so monotone-but-nonlinear co-movement scores 1.0 where Pearson
    // under-reads it, and every moment stays an exact Long. Windows
    // partition by the bounded pair key (type²), never by hour.
    "q226_spearman" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.IntStats._
      val hourly = Tables.events(s, dir)
        .select(col("ts"), col("event_type"),
          floor(col("value")).cast("long").as("v"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(sum("v").as("sv"))
        .select(unix_millis(col("w.start")).as("h"), col("event_type"),
          col("sv"))
      val pairs = hourly.as("a").join(hourly.as("b"),
          col("a.h") === col("b.h") &&
            col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
          col("a.sv").as("x"), col("b.sv").as("y"))
      def rank2(v: String) =
        lit(2L) * rank().over(Window.partitionBy("ta", "tb").orderBy(v)) +
          count(lit(1)).over(Window.partitionBy("ta", "tb", v)) - lit(1L)
      val ranked = pairs
        .withColumn("rx", rank2("x").cast("long"))
        .withColumn("ry", rank2("y").cast("long"))
      ranked.groupBy("ta", "tb")
        .agg(count(lit(1)).as("n"), sum("rx").as("sx"), sum("ry").as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
        .select(col("ta"), col("tb"), col("n").as("n_windows"),
          corrFromSums(col("n"), col("sx"), col("sy"), col("sxy"),
            col("sxx"), col("syy")).as("rho"))
    }),

    // Serving read API #3: daily pageview volume per top-level path
    // from the CATALOG pageviews table — the partition day must equal
    // each hit's own day (the dayOnly write discipline; the
    // cross-midnight visitor's night pageviews land under day=22), so
    // the oracle derives the day from the raw hit timestamp and the
    // engine reads it off the partition column: layout == truth.
    "q225_serving_pageview_volume" -> ((s, _) => {
      gaServing(s)
      s.table("ga_serving.daily_pageviews")
        .where(col("year") === 2019 && col("month") === 9 &&
          col("day").between(22, 23))
        .groupBy(col("day").cast("long").as("day"),
          col("hits_page_pagePathLevel1").as("path1"))
        .agg(count(lit(1)).as("n_pageviews"))
    }),

    // CUSUM changepoint detection over per-type daily event volumes —
    // the sequential level-shift alarm (Page '54): scaled-integer
    // one-sided CUSUM with the max(0,·) recursion expressed as the
    // reflection identity T − min(0, running-min T), two ordered
    // windows per series, zero sequential state.
    "q224_cusum" -> ((s, dir) => {
      import graft.operators.Trend
      Trend.cusum(Tables.events(s, dir), col("event_type"),
        expr("unix_millis(ts) div 86400000"))
    }),

    // Metadata-only COUNT through plain spark.table(): a global
    // count(*) and a partition-filtered count(*) over a manifest
    // catalog table answer from the commit log's row-count sidecar —
    // the CountFromLog optimizer rule collapses both aggregates to
    // LocalRelations, and gate_zero_io asserts NEITHER plan contains a
    // file scan (zero data IO; the library-call-only Manifest.countRows
    // now served implicitly, closing the q229 unification for counts).
    // The layout partitions orders by priority digit, registered with
    // an EXPLICIT schema (catalog-as-truth, no footer inference).
    "q230_count_from_log" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val base = s"$dir/orders.parquet"
      val tag = Integer.toHexString(base.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val layout = new java.io.File(tmp, s"graft_countlog_$tag").toString
      val shaped = ParquetSchema.read(s, base)
        .withColumn("opri", substring(col("o_orderpriority"), 1, 1))
      shaped.repartition(4)
        .write.mode("overwrite").partitionBy("opri").parquet(layout)
      Manifest.bootstrap(s, layout)
      Manifest.writeStats(s, layout, 1L)
      GraftTable.register(s, "graft_unified", s"orders_bypri_$tag", layout,
        schema = Some(shaped.schema), partitionCols = Seq("opri"))
      val t = s.table(s"graft_unified.orders_bypri_$tag")
      val full = t.groupBy().agg(count(lit(1)).as("n_total"))
      val part = t.where(col("opri").isin("1", "2"))
        .groupBy().agg(count(lit(1)).as("n_urgent_high"))
      // optimized-plan check (AQE hides physical children): zero
      // relations left means the count came from the log alone
      def zeroIo(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty
      full.crossJoin(part) // two single-row aggregates — broadcast, no product
        .withColumn("gate_zero_io", lit(zeroIo(full) && zeroIo(part)))
    }),

    // INCREMENTAL VIEW MAINTENANCE over the change feed: a per-wave
    // aggregate (count + cents sum) follows the manifest table via
    // signed CDC deltas — each batch folds to O(batch keys) and the
    // base is NEVER rescanned; the erasure's replacement commit nets
    // the subjects' contribution out of the aggregate. The converged
    // mirror must hash-equal the full recompute over base-minus-
    // subjects (the additive-homomorphism exactness claim, hash-gated).
    // MERGE-ON-READ GDPR ERASURE (deletion vectors): the subjects
    // leave the table through an O(deleted rows) (file, pos) artifact
    // commit — gate_mor pins that the data-file list is BYTE-IDENTICAL
    // across the delete (zero rewrite, the 100 TB erasure lever vs the
    // copy-on-write partition rewrite of q234) — and EVERY read face
    // serves the deletion: the hash-gated aggregate goes through the
    // unified spark.table() resolution (the scan-side DV filter
    // implicit in the plan), gate_count pins the log-answered COUNT (physical stats
    // minus per-file DV counts == the scan truth), gate_gone pins
    // subject absence.
    "q237_dv_erasure" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_dv_ers")
      ensureLakeFixture(s, dir, "q237_dv_erasure") {
        fixOrdersTable(s, dir, "graft_dv_ers"); ()
      }
      val facts = ordersFacts(s, dir)
      val filesBefore = Manifest.current(s, layout).get._2
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(89)) === 0).distinct()
      val (v, nDeleted) =
        Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
      Manifest.writeStats(s, layout, v)
      val gateMor = nDeleted > 0L &&
        Manifest.filesAt(s, layout, v) == filesBefore &&
        Manifest.dvsAt(s, layout, v).nonEmpty
      GraftTable.register(s, "graft_unified", s"dv_ers_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val t = s.table(s"graft_unified.dv_ers_$tag")
      val gateCount = Manifest.countRows(s, layout) == t.count()
      val gateGone =
        t.where(pmod(col("custkey"), lit(89)) === 0).count() == 0L
      t.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_mor", lit(gateMor))
        .withColumn("gate_count", lit(gateCount))
        .withColumn("gate_gone", lit(gateGone))
    }),

    // MERGE-ON-READ UPDATE: one atomic commit = a deletion vector over
    // the old row positions + the updated copies staged as fresh files
    // — O(changed rows) bytes written, with an assignment that MOVES
    // rows across partitions (the hard case copy-on-write handles by
    // rewriting both partitions): updated orders re-partition under
    // w='9' while their originals stay physically in place, hidden by
    // the DV. gate_mor_u pins that every original file is still listed
    // and every NEW file lives under the destination partition.
    "q239_dv_update" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_dv_upd")
      ensureLakeFixture(s, dir, "q239_dv_update") {
        fixOrdersTable(s, dir, "graft_dv_upd"); ()
      }
      val facts = ordersFacts(s, dir)
      val before = Manifest.current(s, layout).get._2.toSet
      val (v, n) = Manifest.updateWhere(s, layout,
        pmod(col("custkey"), lit(101)) === 0,
        Map("price_cents" -> (col("price_cents") * 2L),
          "w" -> lit("9")),
        partCols = Seq("w"))
      val after = Manifest.filesAt(s, layout, v).toSet
      val gate = n > 0L && before.subsetOf(after) &&
        (after -- before).forall(_.startsWith("w=9/")) &&
        Manifest.dvsAt(s, layout, v).nonEmpty
      val snap =
        if (Manifest.current(s, layout).get._2.isEmpty) facts.limit(0)
        else Manifest.read(s, layout)
      snap
        // partition-dir type inference reads w=9 as an int; the
        // declared truth is the string code
        .groupBy(col("w").cast("string").as("w"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_mor_u", lit(gate))
    }),

    // SCHEMA-IN-LOG EVOLUTION (the Delta/Iceberg schema-tracking
    // piece): waves 1-2 commit with the base schema; wave 3 lands as
    // NEW files carrying an extra discount_cents column; the evolved
    // schema is recorded in the log, so the snapshot read serves the
    // declared union deterministically (old files null-fill — a bare
    // parquet read would play the file-enumeration-order lottery and
    // could drop the column entirely) with ZERO footer inference,
    // while time travel to v1 serves v1's OWN schema (gate: the
    // column does not exist there).
    // GROUP-PINNED STREAMING (the q233 crash-window scenario, for
    // streams): a readStream over the facts member with
    // groupMeta=<meta> takes its offsets from GROUP versions — the
    // accumulated stream is exactly the flipped publishes (waves
    // 1-3); waves 4-5, committed to the member's OWN manifest but
    // never flipped, stay invisible. The hash gate is the leak
    // detector: an offset cut between per-table commits instead of
    // publishes would surface wave 4/5 rows.
    "q253_group_stream" -> ((s, dir) => {
      import graft.sources.ManifestGroup
      val rootA = lakeLayout(dir, "graft_grp_facts")
      val meta = lakeLayout(dir, "graft_grp_meta")
      val acc = lakeLayout(dir, "graft_gstream_acc")
      ensureLakeFixture(s, dir, "q253_group_stream")(fixQ233(s, dir))
      val shaped = ParquetSchema.read(s, s"$dir/orders.parquet")
        .withColumn("w", substring(col("o_orderpriority"), 1, 1))
        .select(col("o_orderkey"), col("o_totalprice"), col("w"))
      val cp = java.nio.file.Files
        .createTempDirectory("graft_gstream_cp").toString
      shaped.limit(0).write.mode("overwrite").parquet(acc) // seed schema
      val q = s.readStream.schema(shaped.schema)
        .format("graft.streaming.ManifestStreamProvider")
        .option("groupMeta", meta).load(rootA)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(acc); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val gate = ManifestGroup.currentGroup(s, meta).exists(_._1 == 2L)
      s.read.schema(shaped.schema).parquet(acc)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_group_pinned", lit(gate))
    }),

    // SQL DML, DELETE: the reference's Athena-style face writes
    // `DELETE FROM t WHERE …`, and here that exact statement —
    // through the injected ManifestDmlResolution rule — runs the
    // q237 merge-on-read erasure: an O(deleted rows) deletion-vector
    // commit, zero data files rewritten (gate-pinned byte-identical
    // file list), served by the very next spark.table() read. Same
    // truth as q237, reached through ANSI SQL instead of a library
    // call — the write-side twin of the unified read path.
    "q251_sql_delete" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqldel")
      ensureLakeFixture(s, dir, "q251_sql_delete") {
        fixOrdersTable(s, dir, "graft_sqldel"); ()
      }
      val facts = ordersFacts(s, dir)
      GraftTable.register(s, "graft_unified", s"sqldel_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val filesBefore = Manifest.current(s, layout).get._2
      val res = s.sql(
        s"DELETE FROM graft_unified.sqldel_$tag WHERE custkey % 89 = 0")
        .collect().head
      val (v, nDeleted) = (res.getLong(0), res.getLong(1))
      val gateMor = nDeleted > 0L &&
        Manifest.filesAt(s, layout, v) == filesBefore &&
        Manifest.dvsAt(s, layout, v).nonEmpty
      val t = s.table(s"graft_unified.sqldel_$tag")
      val gateGone =
        t.where(pmod(col("custkey"), lit(89)) === 0).count() == 0L
      t.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_mor", lit(gateMor))
        .withColumn("gate_gone", lit(gateGone))
    }),

    // SQL DML, keyed MERGE: the q241 upsert stated as ANSI
    // `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    // THEN INSERT *` — matched orders replaced whole-row via a
    // deletion vector (tripled price), new keys inserted as staged
    // files, ONE commit, zero partitions rewritten (gate-pinned).
    "q252_sql_merge" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlmrg")
      ensureLakeFixture(s, dir, "q252_sql_merge") {
        fixOrdersTable(s, dir, "graft_sqlmrg"); ()
      }
      val facts = ordersFacts(s, dir)
      GraftTable.register(s, "graft_unified", s"sqlmrg_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val before = Manifest.current(s, layout).get
      val touched = facts.where(pmod(col("o_orderkey"), lit(113)) === 0)
      touched.withColumn("price_cents", col("price_cents") * 3L)
        .unionByName(touched
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
        .createOrReplaceTempView(s"sqlmrg_src_$tag")
      val res = s.sql(
        s"""MERGE INTO graft_unified.sqlmrg_$tag t
           |USING sqlmrg_src_$tag s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .collect().head
      val (v, written) = (res.getLong(0), res.getLong(1))
      val nTouched = touched.count()
      val gate = written == 2L * nTouched &&
        before._2.toSet.subsetOf(Manifest.filesAt(s, layout, v).toSet) &&
        (nTouched == 0L || Manifest.dvsAt(s, layout, v).nonEmpty)
      s.table(s"graft_unified.sqlmrg_$tag")
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_sql_merge", lit(gate))
    }),

    // SQL INSERT: `INSERT INTO` a manifest table lands as ONE staged
    // manifest commit — without the rewrite Spark would drop part
    // files into the directory that NO manifest publishes, rows
    // silently invisible to every reader (the trap the commit log
    // exists to prevent). Gates pin the commit (version 2), the
    // carried old files, and next-read visibility; hash = base + the
    // re-keyed batch.
    // BATCH CDC TVF (round-12 verdict #5): q245's four-commit history
    // (append, replace-with-doubled-prices, merge-on-read delete)
    // consumed as ONE bounded SQL query — `SELECT * FROM
    // table_changes(t, 0, 4)` — instead of a stream. The replay
    // applies each `_commit_version`'s deletes-then-inserts in order;
    // gates pin that all four commits were attributed, that the range
    // carried both event types, and that the replayed state equals
    // the live snapshot row-for-row (exceptAll both ways empty).
    // Truth = q245's: waves 1-3, wave-1 prices doubled, minus the
    // %149 subjects.
    "q260_table_changes" -> ((s, dir) => {
      import graft.sources.GraftTable
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_cv")
      ensureLakeFixture(s, dir, "q260_table_changes")(fixQ245(s, dir))
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.cvtf_$tag"
      GraftTable.register(s, "graft_unified", s"cvtf_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      // empty-input robustness: a no-match delete commits nothing, so
      // the range end is whatever the log actually reached (4 on real
      // data — the gate still pins the exact four-commit sequence)
      val head = graft.sources.Manifest.current(s, layout).get._1
      val ch = s.sql(s"SELECT * FROM table_changes('$name', 0, $head)")
        .localCheckpoint(true)
      val dataCols = facts.schema.fieldNames.map(col).toSeq
      val versions = ch.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).sorted
      var cur = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], facts.schema)
      versions.foreach { v =>
        val step = ch.where(col("_commit_version") === v)
        val del = step.where(col("_change_type") === "delete")
          .select("o_orderkey").distinct()
        val ins = step.where(col("_change_type") === "insert")
          .select(dataCols: _*)
        cur = cur.join(del, Seq("o_orderkey"), "left_anti")
          .unionByName(ins).localCheckpoint(true)
      }
      val live = s.table(name).select(dataCols: _*)
      val gate = versions.toSeq == Seq(1L, 2L, 3L, 4L) &&
        ch.select("_change_type").distinct().count() == 2L &&
        cur.exceptAll(live).isEmpty && live.exceptAll(cur).isEmpty
      cur.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_tvf", lit(gate))
    }),

    // TIMEZONE PARITY (round-13 next-round #8, SURVEY §4): the
    // reference derives EVERY date/hour field in Europe/Berlin
    // (main.py:298) while the engine's default session pins UTC
    // (build.sbt). This arm runs the export's `date`/`hits_hour`
    // derivations under `spark.sql.session.timeZone=Europe/Berlin` on
    // a cloned session and hash-gates them against the oracle's
    // explicitly-shifted timestamps (2019-09-22/23 is CEST = UTC+2):
    // a derivation that silently assumed UTC — or applied the zone
    // twice — misses by two hours and hash-fails. The zone-free
    // integer arms (epoch arithmetic) gate the shift and the
    // date ROLL (the two 23:xx-UTC hits land on the NEXT Berlin day)
    // independently of any timestamp formatting.
    "q267_ga_timezone_parity" -> ((s, _) => {
      val sess = s.newSession()
      sess.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
      val hits = Ingest.readEnrichedHits(sess, GaEnriched)
      val ts = Ingest.receivedAtTs(col("received_at_apig"))
      val derived = hits.select(
        col("message_id").as("request_id"),
        date_format(ts, "yMMdd").as("date_berlin"),
        hour(ts).cast("long").as("hour_berlin"),
        minute(ts).cast("long").as("minute_hit"),
        // zone-free truth arms, straight from the epoch integers
        expr("CAST(pmod(CAST(received_at_apig AS BIGINT) DIV 1000 " +
          "DIV 3600, 24) AS BIGINT)").as("_utc_hour"),
        date_format(date_add(lit("1970-01-01").cast("date"),
          expr("CAST(CAST(received_at_apig AS BIGINT) DIV 1000 " +
            "DIV 86400 AS INT)")), "yMMdd").as("_utc_date"))
        .localCheckpoint(true)
      val gateShift = derived.where(col("hour_berlin") =!=
        pmod(col("_utc_hour") + lit(2L), lit(24L))).count() == 0L
      val gateRoll = derived.where(
        (col("date_berlin") =!= col("_utc_date")) =!=
          (col("_utc_hour") >= 22L)).count() == 0L &&
        derived.where(col("_utc_hour") >= 22L).count() > 0L
      derived.drop("_utc_hour", "_utc_date")
        .withColumn("gate_tz_shift", lit(gateShift))
        .withColumn("gate_tz_roll", lit(gateRoll))
    }),

    // RENAME COLUMN via COLUMN MAPPING (round-13 "missing" #4): the
    // rename is ONE metadata commit (file list byte-identical across
    // it — gate-pinned); pre-rename files serve their rows under the
    // new logical name through the physical-family coalesce; the
    // post-rename INSERT binds the new name; and time travel to v1
    // serves the OLD name with the base truth. Hash = base + the
    // re-keyed %127 batch under the NEW column name.
    "q266_sql_rename_column" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlren")
      ensureLakeFixture(s, dir, "q266_sql_rename_column") {
        fixOrdersTable(s, dir, "graft_sqlren"); ()
      }
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.sqlren_$tag"
      GraftTable.register(s, "graft_unified", s"sqlren_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val filesV1 = Manifest.current(s, layout).get._2
      val v2 = s.sql(
        s"ALTER TABLE $name RENAME COLUMN price_cents TO amount_cents")
        .collect().head.getLong(0)
      val gateMeta = v2 == 2L &&
        Manifest.filesAt(s, layout, v2) == filesV1
      facts.where(pmod(col("o_orderkey"), lit(127)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .withColumnRenamed("price_cents", "amount_cents")
        .createOrReplaceTempView(s"sqlren_src_$tag")
      s.sql(s"INSERT INTO $name SELECT * FROM sqlren_src_$tag")
        .collect(): Unit
      val tt = s.sql(s"SELECT * FROM $name VERSION AS OF 1")
      // coalesce: sum over an empty snapshot is NULL, and the gate must
      // evaluate (not NPE) in the empty-input sweep
      val baseSum = facts.agg(coalesce(sum(col("price_cents")), lit(0L)))
        .head.getLong(0)
      val gateTt = tt.columns.contains("price_cents") &&
        !tt.columns.contains("amount_cents") &&
        tt.agg(coalesce(sum(col("price_cents")), lit(0L)))
          .head.getLong(0) == baseSum
      val cur = s.table(name)
      val gateMap = cur.columns.contains("amount_cents") &&
        !cur.columns.contains("price_cents")
      cur.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("amount_cents")).as("sum_amount_cents"))
        .withColumn("gate_rename_meta", lit(gateMeta))
        .withColumn("gate_rename_tt", lit(gateTt))
        .withColumn("gate_rename_map", lit(gateMap))
    }),

    // INCREMENTAL `OPTIMIZE … WHERE` (round-13 verdict #1): on the
    // fragmented two-level tree, a WHERE-scoped run compacts ONLY the
    // w=1 leaves (file-identity gates pin every out-of-scope leaf
    // byte-untouched), then a plain OPTIMIZE compacts the rest while
    // carrying the now-compact w=1 leaves forward with their exact
    // file names — the O(today's-small-files) statement a 100 TB
    // daily-append tree needs, instead of an O(table) rewrite. The
    // hash IS the content gate: two rewrites, zero rows changed.
    "q265_sql_optimize_where" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_optwh")
      ensureLakeFixture(s, dir, "q265_sql_optimize_where")(fixQ265(s, dir))
      val name = s"graft_unified.optwh_$tag"
      GraftTable.register(s, "graft_unified", s"optwh_$tag", layout,
        schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, custkey BIGINT, price_cents BIGINT, " +
            "w STRING, m STRING")),
        partitionCols = Seq("w", "m"))
      val before = Manifest.current(s, layout).get._2.toSet
      val v1 = s.sql(s"OPTIMIZE $name WHERE w = '1'")
        .collect().head.getLong(0)
      val after1 = Manifest.filesAt(s, layout, v1).toSet
      val gateScope = (before -- after1).nonEmpty &&
        (before -- after1).forall(_.startsWith("w=1/")) &&
        (after1 -- before).forall(_.startsWith("w=1/"))
      val v2 = s.sql(s"OPTIMIZE $name").collect().head.getLong(0)
      val after2 = Manifest.filesAt(s, layout, v2).toSet
      // the plain run must CARRY the already-compact w=1 leaves
      // byte-identically and still shrink the rest
      val gateIncr = v2 == v1 + 1L &&
        after2.filter(_.startsWith("w=1/")) ==
          after1.filter(_.startsWith("w=1/")) &&
        after2.size < after1.size
      s.table(name)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_optimize_scope", lit(gateScope))
        .withColumn("gate_optimize_incremental", lit(gateIncr))
    }),

    // MULTI-LEVEL SQL DML (round-12 verdict #4): the reference's own
    // serving layout is three-level `year=/month=/day=` — here the
    // w/m/d analog with ZERO-PADDED month directories (`m=00`), the
    // exact shape partition-type inference silently corrupts (int 0
    // re-renders as a NEW `m=0` family). The GDPR DELETE is one
    // deletion-vector commit (file list byte-identical at every
    // level); the UPDATE stages its moved rows ONLY under `w=9/…`
    // leaves, originals carried. Gates pin both; hash = orders minus
    // the %107 subjects, with the %101 customers doubled and moved.
    "q259_sql_multilevel_dml" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_mldml")
      ensureLakeFixture(s, dir, "q259_sql_multilevel_dml")(fixQ259(s, dir))
      val name = s"graft_unified.mldml_$tag"
      GraftTable.register(s, "graft_unified", s"mldml_$tag", layout,
        schema = Some(org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, custkey BIGINT, price_cents BIGINT, " +
            "w STRING, m STRING, d STRING")),
        partitionCols = Seq("w", "m", "d"))
      val before = Manifest.current(s, layout).get._2.toSet
      val del = s.sql(
        s"DELETE FROM $name WHERE custkey % 107 = 0").collect().head
      val afterDel = Manifest.filesAt(s, layout, del.getLong(0)).toSet
      val gateDelete = del.getLong(1) > 0L && afterDel == before &&
        Manifest.dvsAt(s, layout, del.getLong(0)).nonEmpty
      val upd = s.sql(
        s"""UPDATE $name SET price_cents = price_cents * 2, w = '9'
           |WHERE custkey % 101 = 0""".stripMargin).collect().head
      val afterUpd = Manifest.filesAt(s, layout, upd.getLong(0)).toSet
      val gateUpdate = upd.getLong(1) > 0L &&
        afterDel.subsetOf(afterUpd) &&
        (afterUpd -- afterDel).forall { f =>
          Manifest.leafDirOf(f, Seq("w", "m", "d")).startsWith("w=9/")
        }
      s.table(name)
        .groupBy("w", "m").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_ml_delete", lit(gateDelete))
        .withColumn("gate_ml_update", lit(gateUpdate))
    }),

    // PLAIN `OPTIMIZE t` — bin-packing compaction as SQL (round-12
    // verdict #3), composed with the q250 checkpoint/retention path:
    // a streaming-sink-shaped table takes 12 small SQL INSERTs under
    // auto-checkpointing (interval 5, retention 8 — the log COMPACTS
    // mid-churn), then one OPTIMIZE statement bin-packs the
    // accumulated small files. Gates pin: the file count SHRANK, the
    // content hash is identical (the oracle IS the hash gate), the
    // log stayed bounded, and OPTIMIZE did NOT vacuum (the previous
    // version still replays). Truth = base + the 12 inserted slices.
    "q258_sql_optimize" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlopt")
      ensureLakeFixture(s, dir, "q258_sql_optimize") {
        fixOrdersTable(s, dir, "graft_sqlopt"); ()
      }
      val facts = ordersFacts(s, dir)
      val name = s"graft_unified.sqlopt_$tag"
      GraftTable.register(s, "graft_unified", s"sqlopt_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      facts.createOrReplaceTempView(s"sqlopt_src_$tag")
      val prevI = s.conf.getOption("spark.graft.manifest.checkpointInterval")
      val prevR = s.conf.getOption("spark.graft.manifest.logRetention")
      s.conf.set("spark.graft.manifest.checkpointInterval", "5")
      s.conf.set("spark.graft.manifest.logRetention", "8")
      try {
        (0 until 12).foreach { k =>
          s.sql(s"INSERT INTO $name SELECT * FROM sqlopt_src_$tag " +
            s"WHERE pmod(o_orderkey, 997) = $k").collect(): Unit
        }
      } finally {
        prevI match {
          case Some(v) => s.conf.set("spark.graft.manifest.checkpointInterval", v)
          case None => s.conf.unset("spark.graft.manifest.checkpointInterval")
        }
        prevR match {
          case Some(v) => s.conf.set("spark.graft.manifest.logRetention", v)
          case None => s.conf.unset("spark.graft.manifest.logRetention")
        }
      }
      val (vPre, filesPre) = Manifest.current(s, layout).get
      val v = s.sql(s"OPTIMIZE $name").collect().head.getLong(0)
      val filesPost = Manifest.filesAt(s, layout, v)
      val gate = filesPost.size < filesPre.size &&
        Manifest.lastCheckpoint(s, layout).exists(_ >= 10L) &&
        Manifest.versions(s, layout).size <= 12 &&
        Manifest.filesAt(s, layout, vPre).size == filesPre.size
      s.table(name)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_sql_optimize", lit(gate))
    }),

    // SQL DDL — the full lifecycle through pure SQL (round-12 verdict
    // #2, the Glue-crawler analog as a statement): CREATE TABLE …
    // USING graft ADOPTS the landed tree (bootstraps its manifest if
    // none), INSERT INTO commits through the log (q256 machinery),
    // SELECT serves the snapshot, DROP TABLE unregisters WITHOUT
    // touching data, and a re-CREATE over the same LOCATION re-adopts
    // commit log and all. Gates pin: the CREATE adopted v1, the
    // INSERT became v2, the DROP removed the catalog entry but kept
    // the manifest + files, and the re-CREATE serves the identical
    // snapshot. Hash = base + the re-keyed %127 batch (same truth as
    // q256, reached end-to-end through DDL).
    "q257_sql_create_table" -> ((s, dir) => {
      import graft.sources.Manifest
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlddl")
      ensureLakeFixture(s, dir, "q257_sql_create_table") {
        fixOrdersTable(s, dir, "graft_sqlddl"); ()
      }
      val name = s"graft_unified.sqlddl_$tag"
      val ddl = s"""CREATE TABLE $name (
                   |  o_orderkey BIGINT, custkey BIGINT,
                   |  price_cents BIGINT, w STRING)
                   |USING graft PARTITIONED BY (w)
                   |LOCATION '$layout'""".stripMargin
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_unified")
      s.sql(s"DROP TABLE IF EXISTS $name")
      val v1 = s.sql(ddl).collect().head.getLong(0)
      val facts = ordersFacts(s, dir)
      facts.where(pmod(col("o_orderkey"), lit(127)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .createOrReplaceTempView(s"sqlddl_src_$tag")
      val v2 = s.sql(s"INSERT INTO $name SELECT * FROM sqlddl_src_$tag")
        .collect().head.getLong(0)
      val agg = s.table(name)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .localCheckpoint(true) // materialize BEFORE the drop
      val nTotal = s.table(name).count()
      s.sql(s"DROP TABLE $name")
      val dropped = !s.catalog.tableExists(name)
      val logSurvives = Manifest.current(s, layout).exists(_._1 == 2L)
      // re-CREATE re-adopts the commit log: same snapshot, no rebuild
      val v3 = s.sql(ddl).collect().head.getLong(0)
      val reAdopted = s.table(name).count() == nTotal
      agg.withColumn("gate_sql_ddl",
        lit(v1 == 1L && v2 == 2L && v3 == 2L && dropped &&
          logSurvives && reAdopted))
    }),

    "q256_sql_insert" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqlins")
      ensureLakeFixture(s, dir, "q256_sql_insert") {
        fixOrdersTable(s, dir, "graft_sqlins"); ()
      }
      val facts = ordersFacts(s, dir)
      GraftTable.register(s, "graft_unified", s"sqlins_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      facts.where(pmod(col("o_orderkey"), lit(127)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
        .createOrReplaceTempView(s"sqlins_src_$tag")
      val before = Manifest.current(s, layout).get._2.toSet
      val res = s.sql(s"INSERT INTO graft_unified.sqlins_$tag " +
        s"SELECT * FROM sqlins_src_$tag").collect().head
      val (v, n) = (res.getLong(0), res.getLong(1))
      val gate = v == 2L &&
        before.subsetOf(Manifest.filesAt(s, layout, v).toSet) &&
        (n == 0L || Manifest.filesAt(s, layout, v).size > before.size)
      s.table(s"graft_unified.sqlins_$tag")
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_sql_insert", lit(gate))
    }),

    // SQL TIME TRAVEL: q242's audit-pin truth through the ANSI
    // `VERSION AS OF` clause on ONE registered name — no second
    // registration: the injected parser rewrites the clause into the
    // pinned, DV-filtered plan before Spark's v1 path can reject it.
    // The pinned read replays the full pre-erasure snapshot while
    // gate_sql_tt pins that the SAME name, unpinned, already serves
    // base-minus-subjects.
    "q255_sql_time_travel" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_sqltt")
      ensureLakeFixture(s, dir, "q255_sql_time_travel") {
        fixOrdersTable(s, dir, "graft_sqltt"); ()
      }
      val facts = ordersFacts(s, dir)
      GraftTable.register(s, "graft_unified", s"sqltt_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(107)) === 0).distinct()
      Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
      val live = s.table(s"graft_unified.sqltt_$tag")
      val gate =
        live.where(pmod(col("custkey"), lit(107)) === 0).count() == 0L &&
        live.count() ==
          facts.where(pmod(col("custkey"), lit(107)) =!= 0).count()
      s.sql(s"""SELECT w, count(*) AS n_orders,
               |  sum(price_cents) AS sum_price_cents
               |FROM graft_unified.sqltt_$tag VERSION AS OF 1
               |GROUP BY w""".stripMargin)
        .withColumn("gate_sql_tt", lit(gate))
    }),

    // SQL DML, UPDATE: q239's merge-on-read update — doubled price
    // AND a cross-partition move to w='9' — stated as the ANSI
    // statement; one DV + staged-files commit, originals physically
    // in place (gate-pinned), destination files only under w=9.
    "q254_sql_update" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_squpd")
      ensureLakeFixture(s, dir, "q254_sql_update") {
        fixOrdersTable(s, dir, "graft_squpd"); ()
      }
      val facts = ordersFacts(s, dir)
      GraftTable.register(s, "graft_unified", s"squpd_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val before = Manifest.current(s, layout).get._2.toSet
      val res = s.sql(
        s"""UPDATE graft_unified.squpd_$tag
           |SET price_cents = price_cents * 2, w = '9'
           |WHERE custkey % 101 = 0""".stripMargin).collect().head
      val (v, n) = (res.getLong(0), res.getLong(1))
      val after = Manifest.filesAt(s, layout, v).toSet
      val gate = n > 0L && before.subsetOf(after) &&
        (after -- before).forall(_.startsWith("w=9/")) &&
        Manifest.dvsAt(s, layout, v).nonEmpty
      s.table(s"graft_unified.squpd_$tag")
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_sql_update", lit(gate))
    }),

    // COMMIT-LOG CHECKPOINTING under per-commit churn (the streaming-
    // sink lifetime problem): one merge-on-read delete, then 160
    // commits with auto-checkpoint every 40 and log retention 50 — the
    // log COMPACTS while versions march on. Gates pin: the log
    // directory stays bounded (a 162-version table holds ~retention
    // entries, the O(1)-per-analysis listing), the `_last_checkpoint`
    // pointer names v160 and that version READS through its
    // consolidated snapshot with the early delete's DV still applied,
    // and the compacted region is gone (version 2 no longer listed)
    // while the retention window is intact. The hash-gated truth is
    // the final snapshot: base minus the erased subjects.
    "q250_log_checkpoint" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_cklog")
      ensureLakeFixture(s, dir, "q250_log_checkpoint")(fixQ250(s, dir))
      val facts = ordersFacts(s, dir)
      val prevI = s.conf.getOption("spark.graft.manifest.checkpointInterval")
      val prevR = s.conf.getOption("spark.graft.manifest.logRetention")
      s.conf.set("spark.graft.manifest.checkpointInterval", "40")
      s.conf.set("spark.graft.manifest.logRetention", "50")
      try {
        val subjects = facts.select("custkey")
          .where(pmod(col("custkey"), lit(151)) === 0).distinct()
        Manifest.deleteMatching(s, layout, subjects, Seq("custkey")) // v2
        val live = Manifest.current(s, layout).get._2
        for (_ <- 1 to 160) Manifest.commit(s, layout, live) // v162
        val vs = Manifest.versions(s, layout)
        val logDir = new java.io.File(layout, Manifest.Dir)
        val nEntries = Option(logDir.listFiles()).map(_.length).getOrElse(0)
        val ck = Manifest.lastCheckpoint(s, layout)
        // empty base table: the DV delete commits nothing (no v2), the
        // aggregate is 0 rows regardless — the gates only assert on a
        // populated lifecycle
        val emptyT = live.isEmpty
        val gateBounded = emptyT || (vs.max == 162L && nEntries < 120)
        val gateCkpt = emptyT || (ck.contains(160L) &&
          Manifest.dvsAt(s, layout, 160L).nonEmpty &&
          Manifest.readVersion(s, layout, 160L).count() ==
            Manifest.read(s, layout).count())
        val gateCutoff = emptyT || (!vs.contains(2L) && vs.contains(113L))
        (if (emptyT) facts.limit(0) else Manifest.read(s, layout))
          .groupBy(col("w").cast("string").as("w"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price_cents")).as("sum_price_cents"))
          .withColumn("gate_bounded", lit(gateBounded))
          .withColumn("gate_ckpt", lit(gateCkpt))
          .withColumn("gate_cutoff", lit(gateCutoff))
      } finally {
        prevI match {
          case Some(v) => s.conf.set("spark.graft.manifest.checkpointInterval", v)
          case None => s.conf.unset("spark.graft.manifest.checkpointInterval")
        }
        prevR match {
          case Some(v) => s.conf.set("spark.graft.manifest.logRetention", v)
          case None => s.conf.unset("spark.graft.manifest.logRetention")
        }
      }
    }),

    "q249_schema_evolution" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_schev")
      ensureLakeFixture(s, dir, "q249_schema_evolution")(fixQ249(s, dir))
      val facts = ordersFacts(s, dir)
      val emptyT = Manifest.current(s, layout).get._2.isEmpty
      val gate = !emptyT &&
        !Manifest.readVersion(s, layout, 1L)
          .columns.contains("discount_cents") &&
        Manifest.read(s, layout).columns.contains("discount_cents")
      val snapEv =
        if (emptyT) facts.withColumn("discount_cents", lit(0L)).limit(0)
        else Manifest.read(s, layout)
      snapEv
        .groupBy(col("w").cast("string").as("w"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"),
          sum(coalesce(col("discount_cents"), lit(0L)))
            .as("sum_discount_cents"))
        .withColumn("gate_schema", lit(gate))
    }),

    // GDPR ERASURE ACROSS THE GA SIX-TABLE SERVING GROUP, MERGE-ON-
    // READ (the reference-domain capstone of the DV stack): the daily
    // job publishes sessions/pageviews/events/products/transactions/
    // items as ONE group commit (the reference's 6-table export made
    // transactional), then a visitor's right-to-be-forgotten request
    // erases them from EVERY member with per-member deletion-vector
    // commits and ONE group flip — zero data files rewritten in any
    // of the six trees, no table ever serving a mix of pre- and
    // post-erasure publishes. Per member the gates pin: the subject
    // is gone, the file list is byte-identical, and the surviving
    // row count equals the day's rows minus the subject's — stated
    // as a VALUES-literal oracle (the table contents themselves are
    // hash-gated by q16/q17/q45-q48).
    "q248_ga_group_dv_erasure" -> ((s, dir) => {
      import graft.operators.Erasure
      import graft.sources.{Manifest, ManifestGroup}
      ensureLakeFixture(s, dir, "q248_ga_group_dv_erasure")(fixQ248(s))
      val out = gaOutputs(s)
      val outRoot = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_ga_dvgrp").toString
      val meta = s"$outRoot/daily"
      val tables = Seq(
        "sessions" -> out.sessions, "pageviews" -> out.pageviews,
        "events" -> out.events, "products" -> out.products,
        "transactions" -> out.transactions, "items" -> out.items)
      val members = tables.map { case (t, _) => s"$outRoot/daily/type=$t" }
      val subject = out.sessions
        .agg(min(col("fullVisitorId")).as("fullVisitorId"))
        .localCheckpoint(true)
      val beforeMap = ManifestGroup.currentGroup(s, meta).get._2
      Erasure.eraseGroupDv(s, meta, members, subject,
        Seq("fullVisitorId"), batchId = "ga-dv-gdpr-1")
      val afterMap = ManifestGroup.currentGroup(s, meta).get._2
      val day = to_date(col("timestamp")) === lit("2019-09-23")
      // the subject key is ONE value consumed by all six gates — one
      // collect, not one per member (same value, six fewer jobs)
      val subjVal = subject.collect().head.getString(0)
      // per-member gates are independent reads of separate roots:
      // their jobs overlap (guide §2.6 / Par.ordered), and
      // `gone` + the served row count fold into ONE aggregate pass per
      // member instead of two separate count() jobs — the gate VALUES
      // are identical, only the job count and overlap change
      val rows = Par.ordered(tables) { case (tpe, df) =>
        val root = s"$outRoot/daily/type=$tpe"
        val key = ManifestGroup.normKey(root)
        val gv = afterMap(key)
        val served =
          if (Manifest.filesAt(s, root, gv).isEmpty) df.limit(0)
          else Manifest.readVersion(s, root, gv)
        val servedAgg = served.agg(
          count(when(col("fullVisitorId") === subjVal, lit(1))).as("n_subj"),
          count(lit(1)).as("n_all")).collect().head
        val gone = servedAgg.getLong(0) == 0L
        val zeroRewrite = Manifest.filesAt(s, root, gv) ==
          Manifest.filesAt(s, root, beforeMap(key))
        val expected = df.where(day)
          .where(col("fullVisitorId") =!= subjVal).count()
        (tpe, gone, zeroRewrite, servedAgg.getLong(1) == expected)
      }
      import s.implicits._
      rows.toDF("tpe", "gate_gone", "gate_zero_rewrite", "gate_counts")
    }),

    // RESTORE TABLE … TO VERSION AS OF (the operational undo): a bad
    // commit wipes wave 2; restore(1) publishes a NEW version serving
    // v1's exact snapshot — the log stays append-only (bootstrap, the
    // bad commit, the restore: three linear versions, full audit
    // trail), and the hash-gated truth is the original table as if
    // the incident never reached a reader that queries now.
    "q247_restore" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_rst")
      ensureLakeFixture(s, dir, "q247_restore")(fixQ247(s, dir))
      val facts = ordersFacts(s, dir)
      def snapRst() =
        if (Manifest.current(s, layout).get._2.isEmpty) facts.limit(0)
        else Manifest.read(s, layout)
      val wiped = snapRst()
        .where(col("w").cast("string") === "2").count() == 0L
      val v = Manifest.restore(s, layout, 1L)                 // v3
      val gate = wiped && v == 3L &&
        Manifest.versions(s, layout) == Seq(1L, 2L, 3L)
      snapRst()
        .groupBy(col("w").cast("string").as("w"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_restore", lit(gate))
    }),

    // TABLE HISTORY (DESCRIBE HISTORY from the log alone): a scripted
    // lifecycle — bootstrap, append, merge-on-read delete, update,
    // partition replacement, purge — read back as one row per version
    // with the OPERATION INFERRED from the file/DV delta shape (the
    // log records file lists, not intents; the inference is exactly
    // what an auditor can verify from the log). Only script-
    // deterministic columns are emitted (counts vary with the scale
    // factor's file sizes); the oracle is the expected lifecycle as a
    // VALUES literal.
    "q246_table_history" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_hist")
      ensureLakeFixture(s, dir, "q246_table_history")(fixQ246(s, dir))
      Manifest.history(s, layout)
        .select(col("version"), col("operation"),
          (col("files_added") > 0L).as("had_adds"),
          (col("files_removed") > 0L).as("had_removes"),
          (col("dvs_added") > 0L).as("had_dvs"))
    }),

    // PER-COMMIT CHANGE FEED (Delta CDF's _commit_version): the
    // reader starts AFTER four commits — bootstrap, append, a
    // partition replacement that doubles wave-1 prices, and a
    // merge-on-read delete — so its ONE catch-up offset range spans
    // the whole log; commitVersions=true decomposes it into
    // per-commit events (a net diff would erase the replaced files'
    // history), and replaying the events in _commit_version order
    // inside the single batch reproduces the table exactly.
    // gate_cv pins one input batch, ≥4 distinct commit versions, and
    // subject absence.
    "q245_cdc_commit_versions" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_cv")
      val mirrorDir = lakeLayout(dir, "graft_cv_mirror")
      val cp = java.nio.file.Files
        .createTempDirectory("graft_cv_cp").toString
      // fixture = the four-commit log (v1 waves 1-2; v2 wave 3
      // appended; v3 wave 1 REPLACED with doubled prices; v4
      // merge-on-read delete of the subjects)
      ensureLakeFixture(s, dir, "q245_cdc_commit_versions")(fixQ245(s, dir))
      val facts = ordersFacts(s, dir)
      val nVersions = Manifest.versions(s, layout).size
      facts.limit(0).write.mode("overwrite").parquet(mirrorDir)
      val factsSchema = facts.schema
      val q = s.readStream.schema(factsSchema)
        .format("graft.streaming.ManifestStreamProvider")
        .option("changeFeed", "true").option("commitVersions", "true")
        .load(layout)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // version-ordered replay WITHIN the batch: each commit's
          // deletes by key, then its inserts — log replay, not net
          val sess = b.sparkSession
          val dataCols = factsSchema.fieldNames.map(col).toSeq
          val pinned = b.localCheckpoint(true)
          val versions = pinned.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          var cur = sess.read.schema(factsSchema).parquet(mirrorDir)
            .localCheckpoint(true)
          versions.foreach { v =>
            val step = pinned.where(col("_commit_version") === v)
            val del = step.where(col("_change_type") === "delete")
              .select("o_orderkey").distinct()
            val ins = step.where(col("_change_type") === "insert")
              .select(dataCols: _*)
            cur = cur.join(del, Seq("o_orderkey"), "left_anti")
              .unionByName(ins).localCheckpoint(true)
          }
          cur.write.mode("overwrite").parquet(mirrorDir)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val mirror = s.read.schema(factsSchema).parquet(mirrorDir)
      val leftover =
        mirror.where(pmod(col("custkey"), lit(149)) === 0).count()
      mirror.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_cv",
          lit(nBatches == 1 && nVersions >= 4 && leftover == 0L))
    }),

    // OPTIMIZE ... ZORDER BY (Delta's clustered rewrite, public
    // design): the shuffled orders layout — every file spanning the
    // whole (xk, yk) grid — is rewritten in ONE atomic full-
    // replacement commit as z-clustered files, and the commit-log
    // colstats then prune on BOTH dimensions (gate-pinned: files
    // intersecting a narrow xk range AND a narrow yk range both drop
    // strictly below the pre-optimize count, where a plain ORDER BY
    // xk would leave yk pruning at zero). A pending merge-on-read
    // delete materializes in the same rewrite (DV refs cleared
    // atomically), so the hash-gated truth is base minus subjects.
    "q244_optimize_zorder" -> ((s, dir) => {
      import graft.jobs.Compaction
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_zord")
      ensureLakeFixture(s, dir, "q244_optimize_zorder")(fixQ244(s, dir))
      val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey").as("custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          pmod(col("o_custkey"), lit(128)).as("xk"),
          pmod(col("o_orderkey"), lit(128)).as("yk"))
      def intersecting(v: Long, c: String, lo: Long, hi: Long): Int =
        Manifest.readColStats(s, layout, v).collect {
          case ((_, col0), (_, mn: Long, mx: Long, _, _, _))
              if col0 == c && mx >= lo && mn <= hi => 1
        }.sum
      val nFiles = Manifest.current(s, layout).get._2.size
      val xBefore = intersecting(1L, "xk", 10L, 13L)
      val yBefore = intersecting(1L, "yk", 10L, 13L)
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(109)) === 0).distinct()
      Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
      val v = Compaction.optimizeZOrder(s, layout, Seq("xk", "yk"),
        zBits = 7, statsCols = Seq("xk", "yk"), numFiles = 8)
      val xAfter = intersecting(v, "xk", 10L, 13L)
      val yAfter = intersecting(v, "yk", 10L, 13L)
      val gate = xBefore == nFiles && yBefore == nFiles &&
        xAfter < xBefore && yAfter < yBefore &&
        Manifest.dvsAt(s, layout, v).isEmpty
      Manifest.read(s, layout)
        .groupBy(pmod(col("custkey"), lit(8)).as("g"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_zorder", lit(gate))
    }),

    // WRITE-TIME EXPECTATIONS ON THE COMMIT (Delta CHECK-constraint /
    // Deequ-on-write analog): a poisoned batch (negative cents, null
    // wave) stages physically but commitChecked REFUSES the publish —
    // readers never see it, the files sit unreferenced until vacuum —
    // while the clean batch admits; the hash-gated truth is base +
    // clean batch ONLY. The validation pass is O(batch), one
    // map-combinable aggregation, never a table scan: the admission
    // gate holds at any table size.
    "q243_checked_admission" -> ((s, dir) => {
      import graft.operators.Expectations.{InRange, NotNull}
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_dv_chk")
      ensureLakeFixture(s, dir, "q243_checked_admission") {
        fixOrdersTable(s, dir, "graft_dv_chk"); ()
      }
      val facts = ordersFacts(s, dir)
      def listing() = lakeListing(s, layout)
      val exps = Seq(NotNull("price_cents"), NotNull("o_orderkey"),
        InRange("price_cents", 0, Long.MaxValue.toDouble))
      // poisoned batch: negative cents + a null key
      facts.limit(50)
        .withColumn("price_cents", -col("price_cents"))
        .withColumn("o_orderkey",
          when(pmod(col("o_orderkey"), lit(2)) === 0, col("o_orderkey")))
        .write.mode("append").partitionBy("w").parquet(layout)
      val refused =
        try { Manifest.commitChecked(s, layout, listing(), exps); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("REFUSED") }
      val unchanged = Manifest.current(s, layout).get._1 == 1L
      Manifest.vacuum(s, layout) // reclaim the refused debris
      // clean batch: the %127 orders re-keyed as new rows
      val clean = facts.where(pmod(col("o_orderkey"), lit(127)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
      clean.write.mode("append").partitionBy("w").parquet(layout)
      val v = Manifest.commitChecked(s, layout, listing(), exps)
      val admitted = v == 2L
      val snapChk =
        if (Manifest.current(s, layout).get._2.isEmpty) facts.limit(0)
        else Manifest.read(s, layout)
      snapChk
        .groupBy(col("w").cast("string").as("w"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_checked", lit(refused && unchanged && admitted))
    }),

    // VERSION AS OF THROUGH THE CATALOG: two names over one root —
    // an audit PIN registered to the pre-erasure version and a LIVE
    // name — serve side by side from the same files; the pinned
    // spark.table() replays the full pre-erasure snapshot (the
    // hash-gated result, == the raw base truth) while gate_travel
    // pins that the live name already serves base-minus-subjects.
    // The retention contract (a vacuumed pin fails loudly) is
    // spec-pinned in DvSpec.
    "q242_version_pinned_read" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val layout = lakeLayout(dir, "graft_dv_pin")
      ensureLakeFixture(s, dir, "q242_version_pinned_read") {
        fixOrdersTable(s, dir, "graft_dv_pin"); ()
      }
      val facts = ordersFacts(s, dir)
      val pinV = Manifest.current(s, layout).get._1
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(107)) === 0).distinct()
      Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
      GraftTable.register(s, "graft_unified", s"pin_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"),
        versionAsOf = Some(pinV))
      GraftTable.register(s, "graft_unified", s"pinlive_$tag", layout,
        schema = Some(facts.schema), partitionCols = Seq("w"))
      val live = s.table(s"graft_unified.pinlive_$tag")
      val gateTravel =
        live.where(pmod(col("custkey"), lit(107)) === 0).count() == 0L &&
        live.count() ==
          facts.where(pmod(col("custkey"), lit(107)) =!= 0).count()
      s.table(s"graft_unified.pin_$tag")
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_travel", lit(gateTravel))
    }),

    // MERGE-ON-READ KEYED MERGE (the upsert with the DV cost model):
    // one commit replaces every matched order whole-row (tripled
    // price) via a deletion vector and inserts the batch's new keys
    // as staged files — O(batch + matched) bytes, zero partitions
    // rewritten (gate-pinned: the pre-merge file list survives
    // intact). The micro-batch MERGE shape a streaming keyed sink
    // needs at 100 TB: the trigger pays for ITS rows, not for the
    // partitions they land in.
    "q241_dv_merge" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_dv_mrg")
      ensureLakeFixture(s, dir, "q241_dv_merge") {
        fixOrdersTable(s, dir, "graft_dv_mrg"); ()
      }
      val facts = ordersFacts(s, dir)
      val before = Manifest.current(s, layout).get
      val touched = facts.where(pmod(col("o_orderkey"), lit(113)) === 0)
      val batch = touched // updates: replace whole-row, price tripled
        .withColumn("price_cents", col("price_cents") * 3L)
        .unionByName(touched // inserts: same rows under brand-new keys
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
      val (v, matched, written) =
        Manifest.mergeDv(s, layout, batch, Seq("o_orderkey"),
          partCols = Seq("w"))
      val nTouched = touched.count()
      val gate = matched == nTouched && written == 2L * nTouched &&
        before._2.toSet.subsetOf(Manifest.filesAt(s, layout, v).toSet) &&
        (nTouched == 0L || Manifest.dvsAt(s, layout, v).nonEmpty)
      val snap =
        if (Manifest.current(s, layout).get._2.isEmpty) facts.limit(0)
        else Manifest.read(s, layout)
      snap.groupBy(col("w").cast("string").as("w"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_merge", lit(gate))
    }),

    // CROSS-TABLE GDPR ERASURE, MERGE-ON-READ (q234's truth with
    // q237's cost model): the subjects leave BOTH group members via
    // per-member deletion-vector commits — zero data files rewritten
    // anywhere, gate-pinned — and ONE group flip publishes the erasure
    // everywhere at once; the reads go through group-pinned unified
    // tables, so the scan-side DV filter and the group version pinning
    // compose in the same spark.table() plan.
    "q240_dv_group_erasure" -> ((s, dir) => {
      import graft.operators.Erasure
      import graft.sources.{GraftTable, Manifest, ManifestGroup}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val rootA = lakeLayout(dir, "graft_dvg_facts")
      val rootB = lakeLayout(dir, "graft_dvg_roll")
      val meta = lakeLayout(dir, "graft_dvg_meta")
      ensureLakeFixture(s, dir, "q240_dv_group_erasure")(fixQ240(s, dir))
      val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).as("w"))
      val roll = facts.groupBy("custkey")
        .agg(count(lit(1)).as("n_orders"))
      val filesA = Manifest.current(s, rootA).get._2
      val filesB = Manifest.current(s, rootB).get._2
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(103)) === 0).distinct()
      Erasure.eraseGroupDv(s, meta, Seq(rootA, rootB), subjects,
        Seq("custkey"), batchId = "dv-gdpr-grp-1")
      val gateMor = Manifest.current(s, rootA).get._2 == filesA &&
        Manifest.current(s, rootB).get._2 == filesB
      GraftTable.register(s, "graft_unified", s"dvg_facts_$tag", rootA,
        schema = Some(facts.schema), partitionCols = Seq("w"),
        group = Some(meta))
      GraftTable.register(s, "graft_unified", s"dvg_roll_$tag", rootB,
        schema = Some(roll.schema), group = Some(meta))
      val tA = s.table(s"graft_unified.dvg_facts_$tag")
      val tB = s.table(s"graft_unified.dvg_roll_$tag")
      val inA = tA.where(pmod(col("custkey"), lit(103)) === 0).count()
      val inB = tB.where(pmod(col("custkey"), lit(103)) === 0).count()
      val consistent =
        tB.count() == tA.select("custkey").distinct().count()
      tA.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_dv_group",
          lit(gateMor && inA == 0L && inB == 0L && consistent))
    }),

    // MERGE-ON-READ DELETE THROUGH THE CHANGE FEED: a deletion-vector
    // commit changes NO files, yet the CDC stream must still carry the
    // deleted rows to every derived store — the source reads the new
    // DV artifact, materializes exactly its (file, pos) rows from the
    // still-live files, and emits them as `delete` events; the keyed
    // mirror converges to base minus subjects with no source rescan.
    // gate_dv_cdc additionally pins that the delete commit really was
    // merge-on-read (file list unchanged) and arrived as its own
    // batch.
    "q238_dv_change_feed" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_dvcdc")
      val mirrorDir = lakeLayout(dir, "graft_dvcdc_mirror")
      val cp = java.nio.file.Files
        .createTempDirectory("graft_dvcdc_cp").toString
      ensureLakeFixture(s, dir, "q238_dv_change_feed") {
        fixOrdersTable(s, dir, "graft_dvcdc"); ()
      }
      val facts = ordersFacts(s, dir)
      facts.limit(0).write.mode("overwrite").parquet(mirrorDir)
      val factsSchema = facts.schema
      val q = s.readStream.schema(factsSchema)
        .format("graft.streaming.ManifestStreamProvider")
        .option("changeFeed", "true").load(layout)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val cur = b.sparkSession.read.schema(factsSchema)
            .parquet(mirrorDir).localCheckpoint(true)
          val dataCols = factsSchema.fieldNames.map(col).toSeq
          val del = b.where(col("_change_type") === "delete")
            .select("o_orderkey").distinct()
          val ins = b.where(col("_change_type") === "insert")
            .select(dataCols: _*)
          cur.join(del, Seq("o_orderkey"), "left_anti").unionByName(ins)
            .write.mode("overwrite").parquet(mirrorDir)
          ()
        }.start()
      var morClean = false
      try {
        q.processAllAvailable() // snapshot batch: mirror = full table
        val filesBefore = Manifest.current(s, layout).get._2
        val subjects = facts.select("custkey")
          .where(pmod(col("custkey"), lit(131)) === 0).distinct()
        val (v, n) =
          Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
        morClean = n > 0L && Manifest.filesAt(s, layout, v) == filesBefore
        q.processAllAvailable() // the DV batch: deletes only
      } finally q.stop()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val mirror = s.read.schema(factsSchema).parquet(mirrorDir)
      val leftover =
        mirror.where(pmod(col("custkey"), lit(131)) === 0).count()
      mirror.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_dv_cdc",
          lit(morClean && leftover == 0L && nBatches >= 2))
    }),

    "q236_incremental_view" -> ((s, dir) => {
      import graft.operators.Erasure
      import graft.sources.Manifest
      import graft.streaming.IncrementalAgg
      val layout = lakeLayout(dir, "graft_ivm")
      val aggDir = lakeLayout(dir, "graft_ivm_agg")
      val cp = java.nio.file.Files
        .createTempDirectory("graft_ivm_cp").toString
      ensureLakeFixture(s, dir, "q236_incremental_view") {
        fixOrdersTable(s, dir, "graft_ivm"); ()
      }
      val facts = ordersFacts(s, dir)
      val keys = Seq("w"); val sums = Seq("price_cents")
      val cdfSchema = facts.schema.add("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false)
      val mirror0 = IncrementalAgg.emptyMirror(s, cdfSchema, keys, sums)
      mirror0.write.mode("overwrite").parquet(aggDir) // seed schema
      val mirrorSchema = mirror0.schema
      val q = s.readStream.schema(facts.schema)
        .format("graft.streaming.ManifestStreamProvider")
        .option("changeFeed", "true").load(layout)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val cur = b.sparkSession.read.schema(mirrorSchema)
            .parquet(aggDir).localCheckpoint(true)
          IncrementalAgg.applyDelta(cur, b, keys, sums)
            .write.mode("overwrite").parquet(aggDir)
          ()
        }.start()
      try {
        q.processAllAvailable() // snapshot batch
        if (Manifest.current(s, layout).exists(_._2.nonEmpty)) {
          val subjects = facts.select("custkey")
            .where(pmod(col("custkey"), lit(997)) === 0).distinct()
          Erasure.erasePartitionScopedAtomic(s, layout, Seq("w"), subjects,
            Seq("custkey"), batchId = "ivm-erase-1", keepVersions = 2)
        }
        q.processAllAvailable() // delta batch nets the subjects out
      } finally q.stop()
      // ≥2 data batches = the aggregate really was maintained by
      // deltas (snapshot + erasure), not one final recompute
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      s.read.schema(mirrorSchema).parquet(aggDir)
        .select(col("w"), col("n_rows").as("n_orders"),
          col("sum_price_cents"))
        .withColumn("gate_ivm", lit(nBatches >= 2))
    }),

    // GDPR ERASURE PROPAGATED THROUGH THE CHANGE FEED: a keyed mirror
    // (the downstream derived store every serving layer has) follows
    // the manifest table via changeFeed=true; the erasure's
    // replacement commit arrives as delete(old partition rows) +
    // insert(survivors), the mirror applies deletes by unique key
    // then appends inserts, and the converged mirror must hash-equal
    // the base minus the subjects — the right-to-be-forgotten
    // reaching a derived store with NO rescan of the source table.
    // Vacuum retention (keepVersions=2) covers the reader's lag, the
    // universal CDF contract.
    "q235_change_feed_mirror" -> ((s, dir) => {
      import graft.operators.Erasure
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_cdc")
      val mirrorDir = lakeLayout(dir, "graft_cdc_mirror")
      val cp = java.nio.file.Files
        .createTempDirectory("graft_cdc_cp").toString
      ensureLakeFixture(s, dir, "q235_change_feed_mirror") {
        fixOrdersTable(s, dir, "graft_cdc"); ()
      }
      val facts = ordersFacts(s, dir)
      facts.limit(0).write.mode("overwrite").parquet(mirrorDir) // seed schema
      val factsSchema = facts.schema
      val q = s.readStream.schema(factsSchema)
        .format("graft.streaming.ManifestStreamProvider")
        .option("changeFeed", "true").load(layout)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // keyed CDF application: deletes by the unique key, then
          // inserts — localCheckpoint severs lineage from the dir the
          // write replaces (the SkippingIndex.refresh discipline)
          val cur = b.sparkSession.read.schema(factsSchema)
            .parquet(mirrorDir).localCheckpoint(true)
          val dataCols = factsSchema.fieldNames.map(col).toSeq
          val del = b.where(col("_change_type") === "delete")
            .select("o_orderkey").distinct()
          val ins = b.where(col("_change_type") === "insert")
            .select(dataCols: _*)
          cur.join(del, Seq("o_orderkey"), "left_anti").unionByName(ins)
            .write.mode("overwrite").parquet(mirrorDir)
          ()
        }.start()
      try {
        q.processAllAvailable() // snapshot batch: mirror = full table
        // the erasure commit; keepVersions=2 keeps the removed files
        // on disk for the feed's delete-side read
        if (Manifest.current(s, layout).exists(_._2.nonEmpty)) {
          val subjects = facts.select("custkey")
            .where(pmod(col("custkey"), lit(997)) === 0).distinct()
          Erasure.erasePartitionScopedAtomic(s, layout, Seq("w"), subjects,
            Seq("custkey"), batchId = "cdc-erase-1", keepVersions = 2)
        }
        q.processAllAvailable() // delete+insert batch: mirror converges
      } finally q.stop()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val mirror = s.read.schema(factsSchema).parquet(mirrorDir)
      val leftover =
        mirror.where(pmod(col("custkey"), lit(997)) === 0).count()
      mirror.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_price_cents"))
        .withColumn("gate_cdc", lit(leftover == 0L && nBatches >= 2))
    }),

    // CROSS-TABLE GDPR ERASURE, all-or-nothing: a deterministic
    // subject set (custkey ≡ 0 mod 997) is erased from BOTH group
    // members — the per-customer facts and their rollup — with ONE
    // group flip: no window where one table is erased and the other
    // still serves the subject. The hash gate is the per-priority
    // aggregate over the erased facts table (oracle = base minus
    // subjects); gate_erased pins subject absence in both members AND
    // cross-member consistency (rollup row count == distinct
    // surviving customers).
    "q234_group_erasure" -> ((s, dir) => {
      import graft.operators.Erasure
      import graft.sources.{GraftTable, ManifestGroup}
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val rootA = lakeLayout(dir, "graft_ers_facts")
      val rootB = lakeLayout(dir, "graft_ers_roll")
      val meta = lakeLayout(dir, "graft_ers_meta")
      ensureLakeFixture(s, dir, "q234_group_erasure")(fixQ234(s, dir))
      val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"),
          substring(col("o_orderpriority"), 1, 1).as("w"))
      val roll = facts
        .withColumn("bucket", pmod(col("custkey"), lit(4)).cast("string"))
        .groupBy("custkey", "bucket").agg(count(lit(1)).as("n_orders"))
      val subjects = facts.select("custkey")
        .where(pmod(col("custkey"), lit(997)) === 0).distinct()
      Erasure.eraseGroupAtomic(s, meta,
        Seq(rootA -> "w", rootB -> "bucket"), subjects, Seq("custkey"),
        batchId = "gdpr-batch-1")
      GraftTable.register(s, "graft_unified", s"ers_facts_$tag", rootA,
        schema = Some(facts.schema), partitionCols = Seq("w"),
        group = Some(meta))
      GraftTable.register(s, "graft_unified", s"ers_roll_$tag", rootB,
        schema = Some(roll.schema), partitionCols = Seq("bucket"),
        group = Some(meta))
      val tA = s.table(s"graft_unified.ers_facts_$tag")
      val tB = s.table(s"graft_unified.ers_roll_$tag")
      val inA = tA.where(pmod(col("custkey"), lit(997)) === 0).count()
      val inB = tB.where(pmod(col("custkey"), lit(997)) === 0).count()
      val consistent =
        tB.count() == tA.select("custkey").distinct().count()
      tA.groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_erased",
          lit(inA == 0L && inB == 0L && consistent))
    }),

    // ATOMIC MULTI-TABLE PUBLISH (the reference's 6-table daily
    // export, made transactional): a facts table and its per-wave
    // aggregate table publish through TWO group flips (waves 1–2,
    // then wave 3); waves 4–5 then land physically AND commit to the
    // facts table's OWN manifest — the crash window between per-table
    // commits and the group flip — and must stay INVISIBLE to
    // group-pinned readers. The full-outer join between the two
    // members catches any leak (an unflipped wave appears as a row
    // with null aggregate → rows/hash mismatch) and gate_consistent
    // pins that both members serve the same publish.
    "q233_group_snapshot" -> ((s, dir) => {
      import graft.sources.GraftTable
      val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
      val rootA = lakeLayout(dir, "graft_grp_facts")
      val rootB = lakeLayout(dir, "graft_grp_agg")
      val meta = lakeLayout(dir, "graft_grp_meta")
      // fixture = two group publishes (waves 1-2, then 3) plus the
      // crash window: waves 4-5 landed AND committed to the facts
      // table's own manifest, with no group flip
      ensureLakeFixture(s, dir, "q233_group_snapshot")(fixQ233(s, dir))
      val shaped = ParquetSchema.read(s, s"$dir/orders.parquet")
        .withColumn("w", substring(col("o_orderpriority"), 1, 1))
        .select(col("o_orderkey"), col("o_totalprice"), col("w"))
      def aggOf(ws: Seq[String]) = shaped.where(col("w").isin(ws: _*))
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
      GraftTable.register(s, "graft_unified", s"grp_facts_$tag", rootA,
        schema = Some(shaped.schema), partitionCols = Seq("w"),
        group = Some(meta))
      GraftTable.register(s, "graft_unified", s"grp_agg_$tag", rootB,
        schema = Some(aggOf(Seq("1")).schema), group = Some(meta))
      val a = s.table(s"graft_unified.grp_facts_$tag").groupBy("w")
        .agg(count(lit(1)).as("n_facts"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents_facts"))
      s.table(s"graft_unified.grp_agg_$tag")
        .join(a, Seq("w"), "full_outer")
        .select(col("w"), col("n_orders"), col("sum_price_cents"),
          ((col("n_orders") <=> col("n_facts")) &&
            (col("sum_price_cents") <=> col("cents_facts")))
            .as("gate_consistent"))
    }),

    // CHANGE FEED through the manifest streaming source: the orders
    // table lands in three commit waves (priorities 1–2 bootstrap,
    // then 3, then 4–5 via CAS appends), a
    // readStream.format(ManifestStreamProvider) query drains them
    // micro-batch by micro-batch into an accumulator table, and the
    // accumulated multiset must equal the full base table —
    // exactly-once incremental consumption, hash-gated (any dropped
    // or re-served commit breaks the per-priority counts).
    // gate_multi_batch pins that the feed really arrived over ≥3
    // separate micro-batches, not one snapshot read.
    "q232_manifest_change_feed" -> ((s, dir) => {
      import graft.sources.Manifest
      val layout = lakeLayout(dir, "graft_feed")
      val acc = lakeLayout(dir, "graft_feed_acc")
      val cp = java.nio.file.Files
        .createTempDirectory("graft_feed_cp").toString
      // fixture = waves 1-2 bootstrapped; waves 3-5 are committed by
      // the query itself, mid-stream (they ARE the operator)
      ensureLakeFixture(s, dir, "q232_manifest_change_feed")(fixQ232(s, dir))
      val shaped = ParquetSchema.read(s, s"$dir/orders.parquet")
        .withColumn("w", substring(col("o_orderpriority"), 1, 1))
        .select("o_orderkey", "o_totalprice", "w")
      shaped.limit(0).write.mode("overwrite").parquet(acc) // seed schema
      val q = s.readStream.schema(shaped.schema)
        .format("graft.streaming.ManifestStreamProvider").load(layout)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(acc); ()
        }.start()
      try {
        q.processAllAvailable()
        Manifest.commitPartitionReplacementCas(s, layout, "w",
          shaped.where(col("w") === "3"), touched = Seq("3"))
        q.processAllAvailable()
        Manifest.commitPartitionReplacementCas(s, layout, "w",
          shaped.where(col("w").isin("4", "5")), touched = Seq("4", "5"))
        q.processAllAvailable()
      } finally q.stop()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      s.read.schema(shaped.schema).parquet(acc)
        .groupBy("w").agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_multi_batch", lit(nBatches >= 3))
    }),

    // Metadata-only MIN/MAX/count(col) (q230's completion): the
    // colstats sidecar already carries exact per-file extrema and
    // null counts, so a global freshness probe — first/last order
    // timestamp, price extrema, non-null count, plus a
    // partition-filtered arm — folds entirely at plan time
    // (AggFromLog); gate_zero_io pins the no-relation optimized plan
    // for BOTH arms. The Iceberg manifest-min/max behavior behind
    // plain SQL.
    "q231_minmax_from_log" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val base = s"$dir/orders.parquet"
      val tag = Integer.toHexString(base.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val layout = new java.io.File(tmp, s"graft_agglog_$tag").toString
      val shaped = ParquetSchema.read(s, base)
        .withColumn("opri", substring(col("o_orderpriority"), 1, 1))
        .withColumn("price_cents",
          round(col("o_totalprice") * 100).cast("long"))
      shaped.repartition(4)
        .write.mode("overwrite").partitionBy("opri").parquet(layout)
      Manifest.bootstrap(s, layout)
      Manifest.writeColStats(s, layout, 1L,
        Seq("o_orderdate", "o_totalprice", "price_cents"))
      GraftTable.register(s, "graft_unified", s"orders_stats_$tag", layout,
        schema = Some(shaped.schema), partitionCols = Seq("opri"))
      val t = s.table(s"graft_unified.orders_stats_$tag")
      val full = t.groupBy().agg(
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        min(col("o_totalprice")).as("min_price"),
        count(col("o_totalprice")).as("n_price"),
        sum(col("price_cents")).as("sum_price_cents"))
      val part = t.where(col("opri").isin("1", "2"))
        .groupBy().agg(max(col("o_totalprice")).as("hi_max_price"))
      def zeroIo(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isEmpty
      full.crossJoin(part) // two single-row aggregates — broadcast, no product
        .withColumn("gate_zero_io", lit(zeroIo(full) && zeroIo(part)))
    }),

    // q183's range scan served through the UNIFIED TABLE: the layout
    // is manifest-committed with colstats in the log, registered as a
    // graft.manifest catalog table, and the 3-month predicate prunes
    // files FROM THE SIDECAR inside a plain spark.table() read — no
    // SkippingIndex library call, no separate index artifact; the
    // q227 zero-IO stats now serve implicitly. gate_pruned inspects
    // the planned scan's file count; the hash gate against the
    // full-filter oracle proves the log-derived pruning lost nothing.
    "q229_unified_range" -> ((s, dir) => {
      import graft.sources.{GraftTable, Manifest}
      val base = s"$dir/orders.parquet"
      val tag = Integer.toHexString(base.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val layout = new java.io.File(tmp, s"graft_uni_range_$tag").toString
      ParquetSchema.read(s, base).repartitionByRange(8, col("o_orderdate"))
        .write.mode("overwrite").parquet(layout)
      Manifest.bootstrap(s, layout)
      Manifest.writeColStats(s, layout, 1L, Seq("o_orderdate"))
      GraftTable.register(s, "graft_unified", s"orders_ranged_$tag", layout)
      val lo = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
      val read = s.table(s"graft_unified.orders_ranged_$tag")
        .where(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      // plan-level pruning proof, carried as an oracle-checked gate:
      // the planned scan must open strictly fewer than the live files
      val opened = read.queryExecution.executedPlan.collectLeaves().map {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.selectedPartitions.totalNumberOfFiles
        case _ => 0L
      }.sum
      val total = Manifest.current(s, layout).get._2.size
      read.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_pruned", lit(opened > 0 && opened < total))
    }),

    // q101 with the 100 TB levers ON (round-10 verdict #6): the same
    // directed containment join, grams capped at df ≤ 200 before the
    // prefix algorithm — stop-gram-free containment, the form a 100 TB
    // dedup pass actually runs. Semantics are the exact containment
    // join over the FILTERED sets (oracle mirrors the cap), so the
    // recall trade is explicit and hash-gated, and candidate fan-out
    // per probe gram is bounded by the cap: candidate volume is
    // O(corpus × maxDf) — linear, where unguarded q101 measured
    // 12.35× work per 10× rows at the top decade (SCALING.md).
    "q228_containment_capped" -> ((s, dir) => {
      import graft.llm.MinHashLsh
      MinHashLsh.containmentJoinFromSetsCapped(
        MinHashLsh.hashSets(Tables.documents(s, dir), col("doc_id"),
          col("text")), 4, 5, maxDf = 200L)
    }),

    // Skipping index FROM THE COMMIT LOG (round-10 verdict #4): q183's
    // pruning replayed with the index derived from the colstats
    // sidecar instead of a build scan — the Iceberg-manifest shape
    // where range pruning is a log read. The layout is
    // manifest-committed; Manifest.writeColStats stats each file ONCE
    // (carry-forward makes later commits O(new files));
    // SkippingIndex.fromLog emits the scan-built index's schema from
    // O(files × cols) sidecar lines with zero data-file IO
    // (spec-proven: rebuild succeeds with every data file hidden).
    // gate_pruned proves files were skipped; the hash gate against the
    // full-table-filter oracle proves the log-derived pruning lost
    // nothing.
    "q227_skipping_from_log" -> ((s, dir) => {
      import graft.sources.{Manifest, SkippingIndex}
      val base = s"$dir/orders.parquet"
      val tag = Integer.toHexString(base.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val layout = new java.io.File(tmp, s"graft_skiplog_layout_$tag").toString
      val idx = new java.io.File(tmp, s"graft_skiplog_idx_$tag").toString
      // overwrite wipes the layout INCLUDING its old manifest dir, so
      // every run bootstraps a fresh v1 over exactly these files
      ParquetSchema.read(s, base).repartitionByRange(8, col("o_orderdate"))
        .write.mode("overwrite").parquet(layout)
      Manifest.bootstrap(s, layout)
      // footer mode (round 12): min/max/nulls come from the parquet
      // footers — zero record reads when the write was MICROS-stamped;
      // an INT96 layout falls back to the scan, identical sidecar
      // either way (FooterStatsSpec pins both)
      Manifest.writeColStats(s, layout, 1L, Seq("o_orderdate"),
        fromFooters = true)
      SkippingIndex.fromLog(s, layout, Seq("o_orderdate"), idx)
      val lo = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
      val (paths, total) = SkippingIndex.prunedPaths(s, idx,
        "o_orderdate", lo, hi)
      SkippingIndex.scan(s, layout, paths)
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_price_cents"))
        .withColumn("gate_pruned", lit(paths.length < total))
    }),

    // Two-sample KS drift test per language: document-length
    // distributions of the md5-even source pool vs the rest —
    // sup|ECDF₁−ECDF₂| as the exact cross-multiplied integer, the
    // distribution-level alarm the moments-based drift monitor
    // (q143/q145) cannot raise. Window over the DISTINCT-length table
    // per lang (bounded), never raw documents.
    "q223_ks_drift" -> ((s, dir) => {
      import graft.operators.IntStats
      IntStats.ksByGroup(Tables.documents(s, dir), col("lang"),
        col("source").isin("src0", "src2", "src4", "src6", "src8"),
        length(col("text")))
    }),

    // Exact chi-square independence test — the classical significance
    // complement of q133's mutual information on the same lang×source
    // contingency: per cell (ZERO cells included — the margins' cross
    // join builds the full grid), the chi² contribution on the floor-ppm
    // grid, computed entirely in DECIMAL(38,0) so the cross-multiplied
    // (O·N − rT·cT)² never rounds (the q208 HUGEINT-parity discipline).
    // Scale shape: one contingency groupBy (map-combinable), two
    // margin aggregates of the CELL table (never the corpus), one
    // broadcast grid join; no window, no collect.
    "q222_chi_square" -> ((s, dir) => {
      val o = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rt = o.groupBy("lang").agg(sum("o").cast("long").as("rt"))
      val ct = o.groupBy("source").agg(sum("o").cast("long").as("ct"))
      val n = o.agg(sum("o").cast("long").as("n"))
      val grid = rt.crossJoin(ct).crossJoin(broadcast(n))
      val out = grid.join(o, Seq("lang", "source"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .withColumn("chi2_ppm", expr(
          """CAST((CAST(o AS DECIMAL(19,0)) * n - CAST(rt AS DECIMAL(19,0)) * ct)
            |  * (CAST(o AS DECIMAL(19,0)) * n - CAST(rt AS DECIMAL(19,0)) * ct)
            |  * 1000000 div (CAST(n AS DECIMAL(19,0)) * rt * ct)
            |  AS BIGINT)""".stripMargin))
        .select(col("lang"), col("source"), col("o"), col("rt"),
          col("ct"), col("n"), col("chi2_ppm"))
        .localCheckpoint(true)
      o.unpersist()
      out
    }),

    // Time-series gap fill + forward fill — the resampling primitive
    // every metrics pipeline needs before trend/backtest math (q197
    // assumes a dense series; this MAKES one): per event type, a
    // generated day spine from first to last observed day (sequence +
    // explode — no RNG, no driver loop), missing days joined in as
    // zero (n_filled) and as last-observation-carried-forward
    // (n_ffill). Scale shape: one map-combinable daily groupBy, a
    // per-series bounds aggregate exploded into the spine (bounded by
    // series × days, not events), one left join, one per-series window
    // ordered by day. The spine's first day always has data (it IS the
    // series min), so the ffill column is total.
    "q221_gap_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = daily.groupBy("event_type")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_filled"),
          last(col("n"), ignoreNulls = true).over(w).as("n_ffill"))
    }),

    // RFM segmentation — recency/frequency/monetary quintile scores per
    // customer (Hughes '94), the classic campaign-targeting table.
    // Cutoffs from the map-combinable quantile bisection (never an
    // ntile window — that is a global sort of the customer table at
    // scale); every input an exact integer (epoch days, cents), scores
    // ascending-in-metric by one uniform documented rule.
    "q220_rfm_segmentation" -> ((s, dir) => {
      import graft.operators.Rfm
      Rfm.scores(Tables.orders(s, dir), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
    }),

    // Bloom-file-index point lookup — q218's visitor journey served
    // through a PER-FILE bloom index over fullVisitorId: the lookup
    // opens only files whose bloom admits the id (SkippingIndex's
    // equality-predicate complement; min/max stats cannot prune a
    // high-cardinality id). gate_pruned proves files were actually
    // skipped; the hash gate against q218's journey oracle proves the
    // pruning lost nothing (the row filter re-applies after the pruned
    // read — bloom membership is necessary, not sufficient).
    "q219_bloom_point_lookup" -> ((s, _) => {
      import graft.sources.BloomFileIndex
      val table = s"${gaServing(s)}/daily/type=sessions"
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_bloom_visitor_idx").toString
      BloomFileIndex.build(s, table, "fullVisitorId", idx,
        expectedPerFile = 10000L, numBits = 100000L)
      val (files, total) = BloomFileIndex.prunedPaths(s, idx, lit("cid-v17"))
      BloomFileIndex.scan(s, table, files)
        .where(col("fullVisitorId") === "cid-v17")
        .select(col("fullVisitorId"), col("visitId"),
          col("visitNumber").cast("long").as("visitNumber"),
          col("date").cast("long").as("date"),
          col("trafficSource_source"), col("landingPage"))
        .withColumn("gate_pruned", lit(files.length < total))
    }),

    // Session-serving read API #1 (round-9 verdict task #8): "sessions
    // per traffic source for a date range" answered FROM the CATALOG
    // table (`ga_serving.daily_sessions` — the registered two-day daily
    // tree), not an in-memory frame. The year/month/day predicates are
    // answered by the metastore's partition metadata (PlanSpec asserts
    // PartitionFilters), so at 100 TB the scan opens only the range's
    // directories. Oracle: the q59-style unfiltered session stack
    // grouped the same way — catalog serving == recompute, row for row.
    "q217_serving_sessions_by_source" -> ((s, _) => {
      gaServing(s)
      s.table("ga_serving.daily_sessions")
        .where(col("year") === 2019 && col("month") === 9 &&
          col("day").between(22, 23))
        .groupBy(col("date").cast("long").as("date"),
          col("trafficSource_source"))
        .agg(count(lit(1)).as("n_sessions"))
    }),

    // Session-serving read API #2: "visitor journey for id X" — every
    // session of one visitor across the date range, now from the
    // UNIFIED manifest table (round-10 verdict missing #1): ONE
    // spark.table() resolution gives snapshot isolation (committed
    // manifest only), partition pruning (year/month/day), AND implicit
    // bloom file pruning on the fullVisitorId equality — the scan
    // opens only the files whose bloom admits cid-v17 within the date
    // range (PlanSpec: scanned set == index prediction). The
    // cross-midnight visitor (cid-v17) makes the range genuinely
    // multi-partition: its night session lives under day=22, the
    // morning one under day=23 — a single-day read would miss half
    // the journey.
    "q218_serving_visitor_journey" -> ((s, _) => {
      gaServing(s)
      s.table("ga_serving.sessions_unified")
        .where(col("year") === 2019 && col("month") === 9 &&
          col("day").between(22, 23) &&
          col("fullVisitorId") === "cid-v17")
        .select(col("fullVisitorId"), col("visitId"),
          col("visitNumber").cast("long").as("visitNumber"),
          col("date").cast("long").as("date"),
          col("trafficSource_source"), col("landingPage"))
    }),

    // Index-SERVED phrase search (round-9 verdict task #5): q103's
    // answers replayed FROM the exported posting-list artifact — per
    // (term, doc) rows with delta+varint-packed positions — instead of
    // re-scanning the corpus. The returned plan reads ONLY the index
    // parquet (PlanSpec-asserted: no documents scan); positions decode
    // via the native varint codec in-projection; the per-slot join +
    // HOF alignment is the q103 logic over pre-built postings. Shares
    // q103's oracle verbatim: index == scan, term for term.
    "q216_phrase_from_index" -> ((s, dir) => {
      import graft.llm.InvertedIndex
      // artifact export is memoized setup (an offline index job);
      // the timed body is the SERVE path: read postings, align phrase
      val idx = postingIdx(s, dir)
      InvertedIndex.phraseSearchFromIndex(ParquetSchema.read(s, idx),
        Seq("table", "hash"))
    }),

    "q215_dow_seasonality" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .select(col("event_type"),
          expr("((unix_millis(ts) div 86400000L) + 3L) % 7L").as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
      val tot = counts.groupBy("event_type").agg(sum("n").as("nt"))
      counts.join(tot, "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          expr("(1000000L * n) div greatest(nt, 1L)").as("share_ppm"))
        .withColumn("dev_ppm", abs(col("share_ppm") - lit(142857L)))
    }),

    // Flesch reading ease per document — the readability gate next to
    // the heuristic quality score: integer regexp counts (sentences,
    // words, vowel-group syllables) + one fixed rounded formula.
    "q214_readability" -> ((s, dir) => {
      import graft.llm.TextOps
      TextOps.readability(Tables.documents(s, dir),
        col("doc_id"), col("text"))
    }),

    // Lead–lag scan between signup and purchase daily volumes: Pearson
    // r at every lag in ±7 days from exact Long moments — the
    // "which metric moves first" table; the reader picks the peak.
    "q213_lead_lag" -> ((s, dir) => {
      import graft.operators.Trend
      Trend.leadLag(Tables.events(s, dir), col("event_type"),
        expr("unix_millis(ts) div 86400000L"), "signup", "purchase")
    }),

    // Sequential pattern mining, n-gram form: the most frequent
    // 3-step behavior sequences across user event streams — the
    // order-sensitive complement of q176's first-order transitions
    // (a trigram can be common while both its bigrams are noise).
    // Two leads per user stream, one integer groupBy over the
    // event-type³-bounded domain, TakeOrderedAndProject for the
    // top-10 (no global window, no single-partition sort).
    "q212_behavior_trigrams" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("e2", lead("event_type", 1).over(w))
        .withColumn("e3", lead("event_type", 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(10)
    }),

    // Incremental triangle maintenance: an md5 20% of co-purchase
    // edges arrive as the "delta batch"; counts update by probing only
    // the delta edges' neighborhoods (O(|delta|·davg), never the
    // O(m^1.5) recount), each new triangle attributed once to its
    // smallest delta edge. The oracle is LITERALLY q189's one-shot SQL
    // — incremental == full recompute is the definitional gate.
    "q211_incremental_triangles" -> ((s, dir) => {
      import graft.operators.Triangles
      import graft.llm.Splits
      val split = copurchasePairs(s, dir).withColumn("_b",
        Splits.md5Bucket(
          concat(col("pu"), lit(":"), col("pv")), 5))
      Triangles.countPerNodeIncremental(
        split.filter(col("_b") < 4), col("pu"), col("pv"),
        split.filter(col("_b") === 4), col("pu"), col("pv"))
    }),

    // Diff-in-diff over user-day event counts: md5-assigned treatment,
    // post = the second half of the observation window (relative to
    // the data's own min day, so the fixture carries no wall-clock
    // constant). Each cell mean on the ppm grid, the DiD estimate the
    // integer difference of differences, repeated gate-column style.
    "q210_diff_in_diff" -> ((s, dir) => {
      import graft.operators.DiffInDiff
      import graft.llm.Splits
      val ud = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_millis(ts) div 86400000L").as("d"))
        .groupBy("user_id", "d").agg(count(lit(1)).as("y"))
      val horizon = ud.agg(min("d").as("d0"), max("d").as("d1"))
      DiffInDiff.estimate(
        ud.crossJoin(broadcast(horizon)),
        Splits.md5Bucket(col("user_id"), 2) === 0,
        expr("d >= d0 + (d1 - d0 + 1L) div 2L"),
        col("y"))
    }),

    // Revenue concentration per nation: the Gini coefficient of
    // customer revenue (cents) as an exact rational — "what share of
    // revenue sits in the top tail" with zero doubles.
    "q208_revenue_gini" -> ((s, dir) => {
      import graft.operators.IntStats
      val rev = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      IntStats.giniByGroup(
        rev.join(cust, col("o_custkey") === col("c_custkey")),
        col("c_nationkey"), col("rev_cents"))
    }),

    // 10%-trimmed mean of line quantities per return flag — the robust
    // location estimate the plain mean lacks a breakdown point for;
    // trimming drops value multisets, so tie order cannot matter.
    "q209_trimmed_mean" -> ((s, dir) => {
      import graft.operators.IntStats
      IntStats.trimmedMeanByGroup(Tables.lineitem(s, dir),
        col("l_returnflag"), round(col("l_quantity")).cast("long"))
    }),

    // Benford first-digit audit over extended prices in cents — the
    // data-quality alarm no min/max/null profile raises: natural
    // multiplicative quantities lead with digit d at log10(1+1/d);
    // fabricated or truncated columns don't. Exact ppm deviations and
    // the total-variation distance as a repeated gate column.
    "q207_benford" -> ((s, dir) => {
      import graft.operators.Profiling
      Profiling.benford(Tables.lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"))
    }),

    // DPO-style preference-pair mining from the scored pool: per
    // source, pair the r-th best with the r-th worst NB-scored doc
    // (up to 10 pairs) — the chosen/rejected construction a
    // preference-tuning set is assembled by when only pointwise
    // scores exist. gate_margin asserts every chosen outscores its
    // rejected; one fit (the shared NB memo), two rank windows.
    "q206_dpo_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = nbScored(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      val top = Window.partitionBy("source")
        .orderBy(col("score_ppm").desc, col("doc_id"))
      val bot = Window.partitionBy("source")
        .orderBy(col("score_ppm").asc, col("doc_id").desc)
      val ranked = scored
        .withColumn("rt", row_number().over(top).cast("long"))
        .withColumn("rb", row_number().over(bot).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      val cap = least(lit(10L), expr("n div 2L"))
      val chosen = ranked.filter(col("rt") <= cap)
        .select(col("source"), col("rt").as("pair_rank"),
          col("doc_id").as("chosen_id"), col("score_ppm").as("chosen_score"))
      val rejected = ranked.filter(col("rb") <= cap)
        .select(col("source"), col("rb").as("pair_rank"),
          col("doc_id").as("rejected_id"),
          col("score_ppm").as("rejected_score"))
      chosen.join(rejected, Seq("source", "pair_rank"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .withColumn("gate_margin", col("margin") > 0L)
    }),

    // Local clustering coefficient over the co-purchase graph: the
    // fraction of each part's co-purchase partners that are themselves
    // co-purchased — the density-vs-popularity signal raw degree and
    // raw triangle counts each miss alone. Exact ppm, every node.
    "q204_clustering_coef" -> ((s, dir) => {
      import graft.operators.Triangles
      Triangles.clusteringCoef(copurchasePairs(s, dir),
        col("pu"), col("pv"))
    }),

    // Degree assortativity of the same graph: do well-connected parts
    // co-purchase with other well-connected parts? Pearson r over the
    // directed stub degrees from exact Long moments (Σx = Σy and
    // Σx² = Σy² by symmetrization — the emitted moments prove it).
    "q205_assortativity" -> ((s, dir) => {
      import graft.operators.Triangles
      Triangles.degreeAssortativity(copurchasePairs(s, dir),
        col("pu"), col("pv"))
    }),

    // Hampel median/MAD outlier days per event type: the robust twin
    // of q105's burst z-scores — median and MAD have 50% breakdown, so
    // a burst cannot inflate its own threshold. Lower medians are real
    // data values (no averaging), flags pure Long comparisons.
    "q203_mad_outliers" -> ((s, dir) => {
      import graft.operators.Trend
      Trend.madOutliers(Tables.events(s, dir),
        col("event_type"), expr("unix_millis(ts) div 86400000L"))
    }),

    "q202_judgment_agreement" -> ((s, dir) => {
      import graft.llm.Evaluation
      val d = supplierDuels(s, dir)
        .withColumn("pa", least(col("win"), col("lose")))
        .withColumn("pb", greatest(col("win"), col("lose")))
      Evaluation.cohenKappa(d, struct(col("pa"), col("pb")),
        col("win") === col("pa"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_quantity")))
    })
  )
}
