package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.{ParquetSchema, Tables}
import graft.operators.{Attribution, Ecommerce, Sessionization}
import graft.ingest.Ingest
import graft.functions.GaFunctions

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2.
  *
  * Numeric-determinism convention: any SUM over doubles is computed as an
  * exact DECIMAL sum and cast to double at the end, on BOTH sides, so the
  * result is bit-identical regardless of partitioning / addition order
  * (a plain double sum differs between Spark and DuckDB and even between
  * runs at different parallelism).
  */
object SparkEntry {

  private[graft] val dec = DecimalType(18, 6)
  /** Wider decimal for long-cents sums (up to ~6e14 at sf0.1, more at
    * scale) converted back to money at the end of an aggregation. */
  private[graft] val dec28 = DecimalType(28, 6)
  /** Per-row cents type for the fixed-point money sums: scale-0 precision-18
    * keeps Spark's compact-long Decimal representation (near-long codegen
    * speed), while `sum` widens the buffer to decimal(28,0) — so the
    * aggregate is exact at any row count, unlike a raw long sum, which
    * wraps silently near ~8e9 rows of ~1.1e9-cent products (round-2
    * advice). */
  private[graft] val cents = DecimalType(18, 0)

  /** Cap on per-user touchpoint paths (bounded per-key aggregation state). */
  val MaxTouchpoints = 100

  /** Checked-in deterministic GA fixtures (graft.tools.MakeGaFixtures).
    * Absolute so both Spark and the driver's DuckDB oracle resolve them
    * regardless of working directory. */
  val GaRaw = "/root/repo/fixtures/ga/raw/records.jsonl"
  val GaEnriched = "/root/repo/fixtures/ga/enriched/year=2019/month=09/day=23"
  val GaEnrichedFile = s"$GaEnriched/part-00000.jsonl"

  /** Supplementary-plane (astral) oracle fixture for the tokenizer
    * encode gates q179/q186 (round-10 verdict #8): words mixing BMP
    * ASCII with astral code points (math-bold X U+1D54F, G clef
    * U+1D11E, emoji U+1F600). DuckDB's substr/len are code-point
    * native, so hash parity on this row pins the engine's code-point
    * iteration — a UTF-16 code-UNIT tokenizer splits each astral char
    * into two garbage pieces and fails the gate. Unioned into the
    * encode inputs engine-side, mirrored verbatim in the oracle SQL. */
  val AstralDocId = 999999999L
  val AstralText = "𝕏a b𝄞c 😀 hello"
  val GeoRanges = "/root/repo/fixtures/geo/ip_ranges.csv"
  val GaConcat = "/root/repo/fixtures/ga/raw/concatenated.json"
  val MediaFixtures = "/root/repo/fixtures/media"
  val MediaExpected = "/root/repo/fixtures/media/expected.csv"
  val MediaPhashExpected = "/root/repo/fixtures/media/expected_phash.csv"
  val MediaAudiohashExpected = "/root/repo/fixtures/media/expected_audiohash.csv"
  val MultilineDocs = "/root/repo/fixtures/docs/multiline.jsonl"
  val BpeMerges = "/root/repo/src/main/resources/graft/bpe_merges.tsv"
  val BpeVocab = "/root/repo/src/main/resources/graft/bpe_vocab.tsv"
  val UnigramVocab = "/root/repo/src/main/resources/graft/unigram_vocab.tsv"
  val WordPieceVocab = "/root/repo/src/main/resources/graft/wordpiece_vocab.tsv"

  /** q180's fixture blocklist: corpus words and phrases chosen to
    * exercise the Aho–Corasick suffix chains — nested patterns
    * ("table" ⊃ "able" ⊃ "ble"), cross-word phrases, and never-match
    * entries. Shared verbatim by the query and its oracle. */
  private[graft] val BlocklistPatterns = Seq(
    "table", "able", "ble", "scan", "can", "an", "at", "data", "ata",
    "row scan", "fast merge", "big table", "agg row", "order", "rder",
    "window", "stream", "slow", "low", "query", "very", "zzz never")

  /** Checked-in multi-line/non-ASCII documents (newlines, CJK, Cyrillic,
    * astral emoji, blank lines, trailing newlines) — the text shapes the
    * driver-generated sf documents don't carry. */
  private[graft] def multilineDocs(s: SparkSession): DataFrame =
    s.read.schema("doc_id LONG, text STRING")
      .option("mode", "FAILFAST").json(MultilineDocs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    sessionsPerUser(spark, "/root/testdata/sf0.001")

  /** Session-scoped memo of the minhash-verified duplicate pair set over
    * `documents` — q20 computes it, q37 (clusters) and q38 (survivors)
    * consume the SAME pairs, so composed runs reuse one eagerly
    * localCheckpointed result instead of rebuilding the LSH DAG three
    * times. Keyed by (session, dir, threshold); deterministic pipeline,
    * so reuse cannot change any result. Sessions are few and short-lived
    * here (Verify/Bench/tests); entries die with the process. */
  private[graft] val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Double), DataFrame]()

  private[graft] def docDupPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    pairsMemo.computeIfAbsent((s, dir, threshold), _ =>
      graft.llm.MinHashLsh.verifiedPairs(
        Tables.documents(s, dir), col("doc_id"), col("text"), threshold))

  /** Memoized composed-pipeline survivors (the expensive LSH subplan):
    * q40 and q77 both consume the same frame, exactly as a production
    * run writes the cleaned corpus once and derives from it. */
  private[graft] val corpusMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private[graft] def corpusSurvivors(s: SparkSession, dir: String): DataFrame =
    corpusMemo.computeIfAbsent((s, dir), _ =>
      graft.jobs.CorpusPipeline.run(
        Tables.documents(s, dir), col("doc_id"), col("text")))

  /** Session-scoped memo of the GA pipeline's six output FRAMES (plans,
    * not data): six queries (q16/q17/q45-q48) select from the same run,
    * and each Dataset transformation on the ~280-col pipeline costs a
    * full driver-side analysis pass — the dominant cost of these
    * fixture-sized queries. Plans are immutable, so reuse cannot change
    * any result. */
  private[graft] val gaOutputsMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, graft.jobs.GaPipeline.Outputs]()

  /** Session-scoped memo of the NB-scored corpus (q174's train+score,
    * eagerly checkpointed inside trainScore): the classifier gate
    * (q174) and the ranking metrics over the same scores (q192/q193)
    * consume one fit, exactly as a production eval run scores once and
    * derives every metric from the scored table. */
  private[graft] val nbScoredMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** `(doc_id, split, curated, n_toks, score_ppm, predicted)`. */
  private[graft] def nbScored(s: SparkSession, dir: String): DataFrame =
    nbScoredMemo.computeIfAbsent((s, dir), _ => {
      import graft.llm.{NaiveBayes, Splits}
      val meta = Tables.documents(s, dir)
        .withColumn("curated",
          Splits.md5Long(concat(col("doc_id").cast("string"), lit(":cur")))
            % 2 === 0)
        .withColumn("split", Splits.split(col("doc_id")))
        .withColumn("text2",
          when(col("curated"), concat(col("text"), lit(" premium curated")))
            .otherwise(col("text")))
      NaiveBayes.trainScore(meta, col("doc_id"), col("text2"),
          col("curated"), col("split") === "train")
        .join(meta.select(col("doc_id"), col("curated"), col("split")),
          "doc_id")
    })

  /** Drop all memoized intermediates. Bench calls this at the top of each
    * iteration pass so repeated passes re-measure the real LSH cost
    * (within one pass q20 -> q37/q38 sharing still applies, exactly as a
    * composed production run would); checkpointed blocks are released by
    * the ContextCleaner once unreferenced. */
  def clearMemos(): Unit = {
    pairsMemo.clear(); gaOutputsMemo.clear(); corpusMemo.clear()
    nbScoredMemo.clear(); copurchaseMemo.clear(); gaServingMemo.clear()
    gaHistMemo.clear(); postingIdxMemo.clear(); stagedLakeFixtures.clear()
  }

  /** STAGED lakehouse fixtures (round-11 verdict #5): the q232–q249
    * queries exercise DML/streaming OPERATORS against a manifest table
    * that, in production, already exists — but each run must MUTATE it
    * (delete/update/merge/restore), so unlike the read-only memos the
    * fixture must be rebuilt FRESH before every run and cannot be
    * memoized. The split: the query's `setup` closure builds the
    * fixture and marks it staged; the query body CONSUMES the mark
    * (skipping its own inline build) — so the bench times construction
    * in `setup_sec` and the query number is the operator's cost, while
    * a body run WITHOUT setup (Verify, specs) builds inline and stays
    * correct. One-shot by design: a second body run without a new
    * stage rebuilds, because the first run dirtied the table. */
  private[graft] val stagedLakeFixtures =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String, String)]()

  private[graft] def stageLakeFixture(s: SparkSession, dir: String, name: String)
                              (build: => Unit): Unit = {
    build
    stagedLakeFixtures.add((s, dir, name)); ()
  }

  private[graft] def ensureLakeFixture(s: SparkSession, dir: String, name: String)
                               (build: => Unit): Unit =
    if (!stagedLakeFixtures.remove((s, dir, name))) build

  /** The one orders shaping every lakehouse fixture shares:
    * (o_orderkey, custkey, price_cents, w) with w = first char of the
    * order priority (the partition wave). */
  private[graft] def ordersFacts(s: SparkSession, dir: String): DataFrame =
    ParquetSchema.read(s, s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        substring(col("o_orderpriority"), 1, 1).as("w"))

  private val scratchRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A scratch path private to this Spark application, under
    * `java.io.tmpdir/graft-<applicationId>/`: re-runs inside one JVM
    * overwrite in place, and two JVMs on the same sf dir never delete
    * each other's files. The directory is removed at JVM exit. */
  private[graft] def appScratch(s: SparkSession, name: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-${s.sparkContext.applicationId}")
    if (scratchRoots.add(root.getPath))
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root))
    new java.io.File(root, name).toString
  }

  /** Deterministic /tmp layout path for a lakehouse fixture. */
  private[graft] def lakeLayout(dir: String, prefix: String): String = {
    val tag = Integer.toHexString(s"$dir/orders.parquet".hashCode)
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_$tag").toString
  }

  private[graft] def wipeRoots(s: SparkSession, roots: String*): Unit = {
    val conf = s.sessionState.newHadoopConf()
    roots.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(conf).delete(p, true)
    }
  }

  private[graft] def lakeListing(s: SparkSession, r: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(r)
    graft.sources.Manifest.listDataFiles(
      p.getFileSystem(s.sessionState.newHadoopConf()), p)
  }

  /** The plain "existing manifest table" every DV/stream query starts
    * from: the shaped orders facts, two files per wave partition,
    * bootstrapped as v1. The static overwrite wipes any previous run's
    * manifest tree, so the fixture is byte-fresh each build. */
  private[graft] def fixOrdersTable(s: SparkSession, dir: String,
                             prefix: String, reparts: Int = 2): String = {
    val layout = lakeLayout(dir, prefix)
    ordersFacts(s, dir).repartition(reparts)
      .write.mode("overwrite").partitionBy("w").parquet(layout)
    graft.sources.Manifest.bootstrap(s, layout)
    layout
  }

  // ---- scripted fixtures with their own commit history ----

  /** q232: waves 1-2 bootstrapped (waves 3-5 are committed by the
    * query itself, mid-stream — they are the operator, not fixture). */
  private[graft] def fixQ232(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_feed")
    val shaped = ParquetSchema.read(s, s"$dir/orders.parquet")
      .withColumn("w", substring(col("o_orderpriority"), 1, 1))
      .select("o_orderkey", "o_totalprice", "w")
    shaped.where(col("w").isin("1", "2")).repartition(2)
      .write.mode("overwrite").partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)
  }

  /** q233: two group publishes plus the crash-window landing — the
    * whole scripted history is the pre-existing state; the query reads
    * it through group-pinned tables. */
  private[graft] def fixQ233(s: SparkSession, dir: String): Unit = {
    import graft.sources.{Manifest, ManifestGroup}
    val rootA = lakeLayout(dir, "graft_grp_facts")
    val rootB = lakeLayout(dir, "graft_grp_agg")
    val meta = lakeLayout(dir, "graft_grp_meta")
    wipeRoots(s, rootA, rootB, meta)
    val shaped = ParquetSchema.read(s, s"$dir/orders.parquet")
      .withColumn("w", substring(col("o_orderpriority"), 1, 1))
      .select(col("o_orderkey"), col("o_totalprice"), col("w"))
    def aggOf(ws: Seq[String]) = shaped.where(col("w").isin(ws: _*))
      .groupBy("w").agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .as("sum_price_cents"))
    def landFacts(ws: Seq[String]): Unit =
      shaped.where(col("w").isin(ws: _*)).repartition(2)
        .write.mode("append").partitionBy("w").parquet(rootA)
    landFacts(Seq("1", "2"))
    aggOf(Seq("1", "2")).coalesce(1).write.mode("append").parquet(rootB)
    ManifestGroup.flip(s, meta, Map(
      rootA -> Manifest.commit(s, rootA, lakeListing(s, rootA)),
      rootB -> Manifest.commit(s, rootB, lakeListing(s, rootB))))
    landFacts(Seq("3"))
    aggOf(Seq("3")).coalesce(1).write.mode("append").parquet(rootB)
    ManifestGroup.flip(s, meta, Map(
      rootA -> Manifest.commit(s, rootA, lakeListing(s, rootA)),
      rootB -> Manifest.commit(s, rootB, lakeListing(s, rootB))))
    landFacts(Seq("4", "5"))
    Manifest.commit(s, rootA, lakeListing(s, rootA))
  }

  /** q234: facts + rollup members published as one group. */
  private[graft] def fixQ234(s: SparkSession, dir: String): Unit = {
    import graft.sources.{Manifest, ManifestGroup}
    val rootA = lakeLayout(dir, "graft_ers_facts")
    val rootB = lakeLayout(dir, "graft_ers_roll")
    val meta = lakeLayout(dir, "graft_ers_meta")
    wipeRoots(s, rootA, rootB, meta)
    val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"),
        substring(col("o_orderpriority"), 1, 1).as("w"))
    facts.repartition(2).write.partitionBy("w").parquet(rootA)
    val roll = facts
      .withColumn("bucket", pmod(col("custkey"), lit(4)).cast("string"))
      .groupBy("custkey", "bucket").agg(count(lit(1)).as("n_orders"))
    roll.coalesce(1).write.partitionBy("bucket").parquet(rootB)
    ManifestGroup.flip(s, meta, Map(
      rootA -> Manifest.commit(s, rootA, lakeListing(s, rootA)),
      rootB -> Manifest.commit(s, rootB, lakeListing(s, rootB))))
  }

  /** q240: facts + rollup members, unpartitioned rollup, one group. */
  private[graft] def fixQ240(s: SparkSession, dir: String): Unit = {
    import graft.sources.{Manifest, ManifestGroup}
    val rootA = lakeLayout(dir, "graft_dvg_facts")
    val rootB = lakeLayout(dir, "graft_dvg_roll")
    val meta = lakeLayout(dir, "graft_dvg_meta")
    wipeRoots(s, rootA, rootB, meta)
    val facts = ParquetSchema.read(s, s"$dir/orders.parquet")
      .select(col("o_custkey").as("custkey"), col("o_totalprice"),
        substring(col("o_orderpriority"), 1, 1).as("w"))
    facts.repartition(2).write.partitionBy("w").parquet(rootA)
    facts.groupBy("custkey").agg(count(lit(1)).as("n_orders"))
      .coalesce(1).write.parquet(rootB)
    Manifest.bootstrap(s, rootA); Manifest.bootstrap(s, rootB)
    ManifestGroup.flip(s, meta, Map(
      rootA -> Manifest.commit(s, rootA, Manifest.current(s, rootA).get._2),
      rootB -> Manifest.commit(s, rootB, Manifest.current(s, rootB).get._2)))
  }

  /** q244: hash-shuffled (xk, yk) layout with colstats in the log. */
  private[graft] def fixQ244(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_zord")
    wipeRoots(s, layout)
    ParquetSchema.read(s, s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("custkey"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"),
        pmod(col("o_custkey"), lit(128)).as("xk"),
        pmod(col("o_orderkey"), lit(128)).as("yk"))
      .repartition(8).write.parquet(layout)
    Manifest.bootstrap(s, layout)
    Manifest.writeColStats(s, layout, 1L, Seq("xk", "yk"))
  }

  /** q245: the four-commit log the catch-up reader replays. */
  private[graft] def fixQ245(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_cv")
    wipeRoots(s, layout)
    val facts = ordersFacts(s, dir)
    def wave(ws: String*) = facts.where(col("w").isin(ws: _*))
    wave("1", "2").repartition(2)
      .write.partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)
    Manifest.commitPartitionReplacementCas(s, layout, "w",
      wave("3"), touched = Seq("3"))
    Manifest.commitPartitionReplacementCas(s, layout, "w",
      wave("1").withColumn("price_cents", col("price_cents") * 2L),
      touched = Seq("1"))
    val subjects = facts.select("custkey")
      .where(pmod(col("custkey"), lit(149)) === 0).distinct()
    Manifest.deleteMatching(s, layout, subjects, Seq("custkey"))
  }

  /** q246: the six-version lifecycle history() reads back. */
  private[graft] def fixQ246(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_hist")
    wipeRoots(s, layout)
    val facts = ordersFacts(s, dir)
    def wave(ws: String*) = facts.where(col("w").isin(ws: _*))
    wave("1", "2").repartition(2)
      .write.partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)                          // v1
    Manifest.commitPartitionReplacementCas(s, layout, "w",
      wave("3"), touched = Seq("3"))                       // v2 append
    Manifest.deleteWhere(s, layout,
      pmod(col("custkey"), lit(139)) === 0)                // v3 delete
    Manifest.updateWhere(s, layout,
      pmod(col("o_orderkey"), lit(151)) === 0,
      Map("price_cents" -> (col("price_cents") + 1L)),
      partCols = Seq("w"))                                 // v4 update
    Manifest.commitPartitionReplacementCas(s, layout, "w",
      wave("2").withColumn("price_cents", col("price_cents") * 2L),
      touched = Seq("2"))                                  // v5 replace
    Manifest.purgeDeletes(s, layout)                       // v6 replace
  }

  /** q247: waves 1-3 bootstrapped, then the incident commit wiping
    * wave 2 — the state a restore is called to undo. */
  private[graft] def fixQ247(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_rst")
    wipeRoots(s, layout)
    val facts = ordersFacts(s, dir)
    facts.where(col("w").isin("1", "2", "3")).repartition(2)
      .write.partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)                           // v1
    Manifest.commit(s, layout,                              // v2: incident
      Manifest.current(s, layout).get._2.filterNot(_.startsWith("w=2/")))
  }

  /** q248: the six-table GA daily export, group-committed — the state
    * a production deployment already serves when the GDPR request
    * arrives. */
  private[graft] def fixQ248(s: SparkSession): Unit = {
    val out = gaOutputs(s)
    val outRoot = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_ga_dvgrp").toString
    wipeRoots(s, outRoot)
    graft.jobs.DailyJob.writeDailyGroupAtomic(s, out, outRoot,
      Seq("2019-09-23"), catalogDb = None)
  }

  /** q250: the plain orders manifest table the checkpointed-log churn
    * runs against. */
  private[graft] def fixQ250(s: SparkSession, dir: String): Unit = {
    fixOrdersTable(s, dir, "graft_cklog"); ()
  }

  /** q249: waves 1-2 under the base schema, wave 3 landing WITH the
    * evolved column, both schemas recorded in the log. */
  private[graft] def fixQ249(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_schev")
    wipeRoots(s, layout)
    val facts = ordersFacts(s, dir)
    facts.where(col("w").isin("1", "2")).repartition(2)
      .write.partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)                            // v1
    Manifest.writeSchema(s, layout, 1L, facts.schema)
    facts.where(col("w") === "3")
      .withColumn("discount_cents", expr("price_cents div 10"))
      .write.mode("append").partitionBy("w").parquet(layout)
    val v2 = Manifest.commit(s, layout, lakeListing(s, layout))
    Manifest.writeSchema(s, layout, v2,
      facts.withColumn("discount_cents", lit(0L)).schema)
  }

  /** q259: the reference-shaped MULTI-LEVEL layout (w/m/d — the
    * `year=/month=/day=` analog, with zero-padded month values so the
    * value-identity discipline is actually exercised), manifest-
    * bootstrapped. */
  private[graft] def fixQ259(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_mldml")
    wipeRoots(s, layout)
    ordersFacts(s, dir)
      .withColumn("m", lpad(pmod(col("custkey"), lit(3)).cast("string"),
        2, "0"))
      .withColumn("d", pmod(col("o_orderkey"), lit(2)).cast("string"))
      .repartition(2)
      .write.partitionBy("w", "m", "d").parquet(layout)
    Manifest.bootstrap(s, layout)
  }

  /** q265: a fragmented two-level (w, m) tree — every leaf lands in
    * up to 6 files, the state a streaming sink leaves behind and the
    * incremental OPTIMIZE exists to fix. */
  private[graft] def fixQ265(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_optwh")
    wipeRoots(s, layout)
    ordersFacts(s, dir)
      .withColumn("m", lpad(pmod(col("custkey"), lit(3)).cast("string"),
        2, "0"))
      .repartition(6)
      .write.partitionBy("w", "m").parquet(layout)
    Manifest.bootstrap(s, layout)
  }

  /** q262: one file per wave (repartition BY the partition column →
    * each shuffle task holds exactly one wave), so DESCRIBE DETAIL's
    * file count is deterministic at any scale factor. */
  private[graft] def fixQ262(s: SparkSession, dir: String): Unit = {
    import graft.sources.Manifest
    val layout = lakeLayout(dir, "graft_sqldd")
    wipeRoots(s, layout)
    ordersFacts(s, dir).repartition(col("w"))
      .write.partitionBy("w").parquet(layout)
    Manifest.bootstrap(s, layout)
  }

  /** SETUP closures for queries whose body depends on a one-time
    * artifact a production deployment would already have (yesterday's
    * session history, the serving tree + catalog, an exported index):
    * the bench times `setup(name)` separately from the query so the
    * headline number is the OPERATOR's cost, not the fixture
    * rebuild's (round-10 verdict #7 — q59's 6.5 s was mostly its
    * day-22 history build after the per-pass memo clear). Each closure
    * is idempotent (memo-backed), and every query body calls the same
    * memo, so running a query WITHOUT its setup (Verify does) is
    * correct — just untimed. */
  def setup: Map[String, (SparkSession, String) => Unit] = {
    val base: Map[String, (SparkSession, String) => Unit] = Map(
      "q59_ga_touchpoints_incremental" -> ((s, _) => { gaIncrementalHistory(s); () }),
      "q216_phrase_from_index" -> ((s, dir) => { postingIdx(s, dir); () }),
      "q217_serving_sessions_by_source" -> ((s, _) => { gaServing(s); () }),
      "q218_serving_visitor_journey" -> ((s, _) => { gaServing(s); () }),
      "q219_bloom_point_lookup" -> ((s, _) => { gaServing(s); () }),
      "q225_serving_pageview_volume" -> ((s, _) => { gaServing(s); () }))
    // lakehouse fixtures (round-11 verdict #5): the manifest tree the
    // DML/stream operator mutates is built here, timed as setup
    base ++ lakeFixtureBuilders.map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) =>
        stageLakeFixture(s, dir, name)(build(s, dir)))
    }
  }

  /** One fixture builder per lakehouse query — shared by the `setup`
    * closure (stage, timed apart) and the query body (inline fallback
    * when no staged fixture is pending). */
  private[graft] val lakeFixtureBuilders: Map[String, (SparkSession, String) => Unit] = Map(
    "q232_manifest_change_feed" -> ((s, dir) => fixQ232(s, dir)),
    "q233_group_snapshot" -> ((s, dir) => fixQ233(s, dir)),
    "q234_group_erasure" -> ((s, dir) => fixQ234(s, dir)),
    "q235_change_feed_mirror" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_cdc"); () }),
    "q236_incremental_view" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_ivm"); () }),
    "q237_dv_erasure" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dv_ers"); () }),
    "q238_dv_change_feed" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dvcdc"); () }),
    "q239_dv_update" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dv_upd"); () }),
    "q240_dv_group_erasure" -> ((s, dir) => fixQ240(s, dir)),
    "q241_dv_merge" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dv_mrg"); () }),
    "q242_version_pinned_read" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dv_pin"); () }),
    "q243_checked_admission" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_dv_chk"); () }),
    "q244_optimize_zorder" -> ((s, dir) => fixQ244(s, dir)),
    "q245_cdc_commit_versions" -> ((s, dir) => fixQ245(s, dir)),
    "q246_table_history" -> ((s, dir) => fixQ246(s, dir)),
    "q247_restore" -> ((s, dir) => fixQ247(s, dir)),
    "q248_ga_group_dv_erasure" -> ((s, _) => fixQ248(s)),
    "q249_schema_evolution" -> ((s, dir) => fixQ249(s, dir)),
    "q250_log_checkpoint" -> ((s, dir) => fixQ250(s, dir)),
    "q251_sql_delete" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqldel"); () }),
    "q252_sql_merge" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlmrg"); () }),
    "q253_group_stream" -> ((s, dir) => fixQ233(s, dir)),
    "q254_sql_update" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_squpd"); () }),
    "q255_sql_time_travel" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqltt"); () }),
    "q256_sql_insert" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlins"); () }),
    "q257_sql_create_table" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlddl"); () }),
    "q258_sql_optimize" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlopt"); () }),
    "q259_sql_multilevel_dml" -> ((s, dir) => fixQ259(s, dir)),
    "q260_table_changes" -> ((s, dir) => fixQ245(s, dir)),
    "q261_sql_alter_add_column" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlalt"); () }),
    "q262_describe_detail" -> ((s, dir) => fixQ262(s, dir)),
    "q263_sql_show_partitions" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlshw"); () }),
    "q264_sql_check_constraint" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlchk"); () }),
    "q265_sql_optimize_where" -> ((s, dir) => fixQ265(s, dir)),
    "q266_sql_rename_column" -> ((s, dir) =>
      { fixOrdersTable(s, dir, "graft_sqlren"); () }))

  /** q59's production-shape input: the day-22 session history (plus the
    * ghost-visitor gate row), persisted AND materialized — in a real
    * deployment this is yesterday's parquet table, so its build is
    * setup, not operator cost. */
  private[graft] val gaHistMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()
  private[graft] def gaIncrementalHistory(s: SparkSession): DataFrame =
    gaHistMemo.computeIfAbsent(s, { s =>
      import graft.jobs.GaPipeline
      val hits = Ingest.readEnrichedHits(s, GaEnriched)
      val day1 = GaPipeline.run(hits,
        GaPipeline.loadHistory(s, "/nonexistent/_gahist"), "2019-09-22",
        idAlgo = "md5", persistExport = false).sessions
      val ghost = day1
        .withColumn("fullVisitorId", lit("ghost-visitor"))
        .withColumn("touchpoints", array(lit("stored-v1")))
        .withColumn("touchpoints_wo_direct", array(lit("stored-v1")))
        .withColumn("first_touchpoint", lit("stored-v1"))
        .withColumn("last_touchpoint", lit("stored-v1"))
      // Persist the tiny history frame: the incremental mode's semi and
      // anti branches each scan history once — fine when history is a
      // parquet table (the production shape), but HERE history is a
      // whole pipeline DAG that would otherwise run twice (measured
      // ~2x this query's bench time). The count materializes it so the
      // build lands in setup_sec, not the query timing.
      val h = day1.unionByName(ghost).persist()
      h.count(); h
    })

  /** q216's posting-list artifact, written once per (session, corpus):
    * the exported index a serving deployment reads is built by an
    * OFFLINE job — setup, not lookup cost. */
  private[graft] val postingIdxMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  private[graft] def postingIdx(s: SparkSession, dir: String): String =
    postingIdxMemo.computeIfAbsent((s, dir), { case (s, dir) =>
      import graft.llm.InvertedIndex
      val tag = Integer.toHexString(s"$dir/documents.parquet".hashCode)
      val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_posting_idx_$tag").toString
      InvertedIndex.writeIndexArtifact(Tables.documents(s, dir),
        col("doc_id"), col("text"), idx)
      idx
    })

  /** Shared stack of the ANN selectivity/quality gates (q161/q165):
    * the planted-cluster fixture, the exact top-`depth` truth, and the
    * two SELECTIVE production arms as (name, results, candidates) —
    * the queries differ only in retrieval depth and the metric layer
    * they put on top, so the fixture/arm machinery lives once (and the
    * DuckDB twin lives once in [[dSelArmCtes]]). `cemb` is persisted:
    * it feeds truth + both arms; callers clearCache after. */
  private[graft] def selFixtureArms(s: SparkSession, dir: String, depth: Int)
      : (DataFrame, DataFrame, Seq[(String, DataFrame, DataFrame)]) = {
    import graft.llm.{KMeans, Similarity}
    val cemb = Similarity.plantedClusters(Tables.embeddings(s, dir)).persist()
    val pred = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(cemb, pred, depth)
      .select(col("query_id"), col("neighbor_id"))
    val kmCents = KMeans.fitCentroids(cemb,
      Similarity.IvfKmeansCells, Similarity.IvfKmeansIters)
    val arms = Seq(
      ("ivf_km_sel",
        Similarity.ivfTopKWith(cemb, kmCents, pred, depth,
          Similarity.IvfSelProbe, Similarity.IvfSelStore),
        Similarity.ivfCandidatePairs(cemb, kmCents, pred,
          Similarity.IvfSelProbe, Similarity.IvfSelStore)),
      ("lsh_sel",
        Similarity.multiProbeLshTopK(cemb, pred, depth,
          Similarity.MpTables, Similarity.MpBits, Similarity.MpSelHamming),
        Similarity.multiProbeCandidatePairs(cemb, pred,
          Similarity.MpTables, Similarity.MpBits, Similarity.MpSelHamming)))
    (cemb, truth, arms)
  }

  // ---------------------------------------------------------------- events
  /** Events with `ts_ms` epoch millis added (shared base for W1-W3 ops). */
  private[graft] def eventsWithMs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts")))

  /** Supplier duels from consecutive line items inside an order: the
    * higher-quantity supplier "wins"; ties and self-duels abstain.
    * l_linenumber is NOT unique inside a synthetic order, so the sort
    * extends by the two columns the duel reads — rows still tied are
    * identical in (suppkey, quantity) and the duel multiset is
    * permutation-invariant. Shared by the BT fit (q191) and the
    * judgment-agreement report (q202): `(l_orderkey, l_linenumber,
    * l_suppkey, l_quantity, win, lose)`. */
  private[graft] def supplierDuels(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_suppkey", "l_quantity")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_quantity"))
      .withColumn("nx_s", lead("l_suppkey", 1).over(w))
      .withColumn("nx_q", lead("l_quantity", 1).over(w))
      .filter(col("nx_s").isNotNull && col("l_suppkey") =!= col("nx_s") &&
        col("l_quantity") =!= col("nx_q"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_quantity"),
        when(col("l_quantity") > col("nx_q"), col("l_suppkey"))
          .otherwise(col("nx_s")).as("win"),
        when(col("l_quantity") > col("nx_q"), col("nx_s"))
          .otherwise(col("l_suppkey")).as("lose"))
  }

  private[graft] def sessionFlags(s: SparkSession, dir: String): DataFrame =
    Sessionization.withSessionFlags(
      eventsWithMs(s, dir), col("user_id"), col("ts_ms"),
      tieBreakers = Seq(col("event_id")))

  private[graft] def sessionsPerUser(s: SparkSession, dir: String): DataFrame =
    sessionFlags(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(col("is_new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))

  // ------------------------------------------------------------- GA domain
  /** Enriched fixture with session flags. Faithful to the reference's
    * operator order (main.py:1155-1161): flags are computed over ALL hits
    * (timing hits can absorb a session start), THEN timing/adtiming rows
    * are dropped. */
  private[graft] def gaFlagged(s: SparkSession): DataFrame = {
    val hits = Ingest.readEnrichedHits(s, GaEnriched)
      .withColumn("recv_ms", col("received_at_apig").cast("long"))
    Sessionization.withSessionFlags(
      hits, col("body_cid"), col("recv_ms"),
      tieBreakers = Seq(col("message_id")))
      .filter(!col("body_t").isin("adtiming", "timing"))
  }

  /** Full daily pipeline over the enriched fixture (md5 visit ids so
    * DuckDB can mirror the hash); shared by q16/q17/q45-q48. */
  /** Page-transition counts over the pageview export — shared by the
    * q115 gate and q155's probability normalization, so a change to the
    * transition semantics (ordering tie-break, path source) can never
    * drift between them. */
  private[graft] def gaTransitionCounts(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fullVisitorId"), col("visitId"))
      .orderBy(col("hits_hitNumber").cast("long"))
    gaOutputs(s).pageviews
      .select(col("fullVisitorId"), col("visitId"),
        col("hits_hitNumber"),
        col("hits_page_pagePath").as("to_path"))
      .withColumn("from_path", lag(col("to_path"), 1).over(w))
      .where(col("from_path").isNotNull)
      .groupBy(col("from_path"), col("to_path"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** q158/q159 fixture: event times compressed into a 2-hour band
    * starting 23:00 of their own day (pure integer-ms arithmetic, so
    * the DuckDB oracle reproduces it exactly) — a realistic share of
    * 30-min-gap sessions then straddles midnight, which is the
    * reference defect both queries interrogate. */
  private[graft] def midnightEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tms"))
      .select(col("event_id"), col("user_id"),
        (col("tms") - pmod(col("tms"), lit(86400000L)) + lit(82800000L) +
          expr("(tms % 86400000) div 12")).as("ts_ms"))

  private[graft] def gaOutputs(s: SparkSession): graft.jobs.GaPipeline.Outputs =
    gaOutputsMemo.computeIfAbsent(s, { s =>
      import graft.jobs.GaPipeline
      val hits = Ingest.readEnrichedHits(s, GaEnriched)
      GaPipeline.run(hits,
        GaPipeline.loadHistory(s, "/nonexistent/_gahist"), "2019-09-23",
        idAlgo = "md5", persistExport = false)
    })

  /** Session-scoped memo of the SERVING tree + catalog (q217/q218): the
    * two-day daily layout a production deployment queries — per job
    * date, pipeline run → `daily/type=X/year/month/day` write — with
    * the per-type tables registered in the `ga_serving` db
    * ([[graft.jobs.GaCatalog.registerTyped]]). Built once per session;
    * the read queries then hit the CATALOG tables and prune on the
    * partition columns (PlanSpec-asserted), exactly the "sessions for a
    * date range" path a daily user exercises. */
  private[graft] val gaServingMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  private[graft] def gaServing(s: SparkSession): String =
    gaServingMemo.computeIfAbsent(s, { s =>
      import graft.jobs.GaPipeline
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_ga_serving").toString
      val hits = Ingest.readEnrichedHits(s, GaEnriched)
      val empty = GaPipeline.loadHistory(s, "/nonexistent/_gahist")
      Seq("2019-09-22" -> "22", "2019-09-23" -> "23").foreach {
        case (jobDate, d) =>
          // day 23 is exactly the gaOutputs memo's run (same hits, empty
          // history, md5) — reuse it so the serving build costs ONE extra
          // pipeline run, not two (bench: q217 carried both)
          val out =
            if (jobDate == "2019-09-23") gaOutputs(s)
            else GaPipeline.run(hits, empty, jobDate, idAlgo = "md5",
              persistExport = false)
          // sessions cluster by visitor across a few files per day — the
          // layout a 100 TB serving tree would use so one visitor's rows
          // co-locate (and the q219 bloom index prunes to them). The
          // bucket is an EXPLICIT xxhash expression, not
          // repartition(4, visitor): the pipeline's window stage already
          // hash-partitions by visitor, so when shuffle.partitions
          // equals 4 EnsureRequirements elides the bare repartition as
          // redundant and AQE then coalesces the tiny stage to ONE file
          // (observed round 10) — a distinct expression keeps the
          // REPARTITION_BY_NUM exchange, which AQE never coalesces.
          // pageviews are NOT day-filtered inside the pipeline (the
          // sessions ARE — P5); apply the DailyJob dayOnly discipline
          // here or both day partitions would carry the full export
          Seq("sessions" -> out.sessions.repartition(4,
              pmod(xxhash64(col("fullVisitorId")), lit(4))),
            "pageviews" -> out.pageviews
              .filter(to_date(col("timestamp")) === lit(jobDate)))
            .foreach { case (tpe, df) =>
              df.write.mode("overwrite")
                .parquet(s"$root/daily/type=$tpe/year=2019/month=09/day=$d")
            }
      }
      graft.jobs.GaCatalog.registerTyped(s, root, db = "ga_serving")
      // UNIFIED manifest table over the sessions tree (round-10 verdict
      // missing #1): ga_serving.sessions_unified resolves through the
      // commit log — snapshot isolation + partition pruning + implicit
      // bloom file pruning on fullVisitorId in ONE spark.table() call
      // (q218's read path; PlanSpec asserts scanned files == the bloom
      // index's prediction). The tree is rewritten per memo rebuild
      // (fresh random part names), so publish the CURRENT listing
      // whenever it drifted from the last committed manifest.
      val sessionsRoot = s"$root/daily/type=sessions"
      val rootP = new org.apache.hadoop.fs.Path(sessionsRoot)
      val fs = rootP.getFileSystem(s.sessionState.newHadoopConf())
      val listing = graft.sources.Manifest.listDataFiles(fs, rootP)
      if (!graft.sources.Manifest.current(s, sessionsRoot).map(_._2)
            .contains(listing))
        graft.sources.Manifest.commit(s, sessionsRoot, listing)
      val bloomIdx = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_ga_serving_bloom_idx").toString
      graft.sources.BloomFileIndex.build(s, sessionsRoot, "fullVisitorId",
        bloomIdx, expectedPerFile = 10000L, numBits = 100000L)
      graft.sources.GraftTable.register(s, "ga_serving", "sessions_unified",
        sessionsRoot, Some("fullVisitorId"), Some(bloomIdx))
      root
    })

  // --------------------------------------------------------------- queries
  /** CALLER CONTRACT: a few entries `.persist()` an intermediate that is
    * read by several arms of the same query (q133's joint counts, q147's
    * brute-force truth) and cannot unpersist it before the caller has
    * executed the returned frame. Run `spark.catalog.clearCache()` after
    * consuming each entry — Verify, Bench and the specs all do — or
    * cached tables accumulate across queries. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries1to99.m ++ Queries100to199.m ++ Queries200plus.m

  // ---------------------------------------------------------------- oracle
  // DuckDB fragments for the GA mirrors (q14/q16/q17): `dlq`/`drq`/`sh`/`mh`
  // are columns produced by dUrlCtes; all rows in scope are session starts
  // unless noted.
  private[graft] def dHas(k: String) = s"regexp_matches(dlq, '(^|&)$k=')"
  private[graft] def dVal(k: String) = s"regexp_extract(dlq, '(^|&)$k=([^&]*)', 2)"
  private[graft] val dEngines =
    "('google','yahoo','bing','aol','ask','comcast','nexttag','local')"
  private[graft] val dChannelCase =
    s"""CASE WHEN ${dHas("utm_source")} THEN ${dVal("utm_source")}
       |     WHEN ${dHas("gclid")} OR ${dHas("gclsrc")} OR ${dHas("dclid")} THEN 'google'
       |     WHEN ${dHas("fbclid")} THEN 'facebook'
       |     WHEN ${dHas("mscklid")} THEN 'bing'
       |     ELSE '(direct)' END""".stripMargin

  /** URL-dissection CTEs (dlq/drq/host, then sh/mh) over CTE `from`. */
  private[graft] def dUrlCtes(from: String) =
    s"""u AS (
       |  SELECT *,
       |    CASE WHEN body_dl IS NULL THEN '' ELSE regexp_extract(body_dl, '\\?([^#]*)', 1) END AS dlq,
       |    CASE WHEN body_dr IS NULL THEN '' ELSE regexp_extract(body_dr, '\\?([^#]*)', 1) END AS drq,
       |    regexp_extract(body_dr, '^[a-z-]+://([^/?#]+)', 1) AS host
       |  FROM $from),
       |u2 AS (
       |  SELECT *,
       |    CASE WHEN list_contains(string_split(host,'.'),'www') THEN string_split(host,'.')[2]
       |         WHEN len(string_split(host,'.')) = 3 THEN string_split(host,'.')[2]
       |         WHEN len(string_split(host,'.')) = 2 THEN string_split(host,'.')[1]
       |         ELSE host END AS sh,
       |    string_split(string_split(string_split(body_dr,'//')[-1],'/')[1],'.')[2] AS mh
       |  FROM u)""".stripMargin

  private[graft] val dSourceCase =
    s"""CASE WHEN body_dr IS NULL THEN
       |      CASE WHEN dlq = '' THEN '(direct)' ELSE $dChannelCase END
       |    ELSE
       |      CASE WHEN starts_with(body_dr, 'android-app') THEN string_split(body_dr, '//')[2]
       |           WHEN sh = 'googleadservices' THEN 'google'
       |           WHEN dlq = '' AND drq = '' THEN sh
       |           WHEN dlq <> '' AND ${dHas("utm_source")} THEN ${dVal("utm_source")}
       |           WHEN drq <> '' THEN sh
       |           WHEN dlq <> '' AND ${dHas("ref")} THEN ${dVal("ref")}
       |           WHEN dlq <> '' THEN $dChannelCase
       |           ELSE '(not set)' END
       |    END""".stripMargin

  private[graft] val dMediumCase =
    s"""CASE WHEN body_dr IS NULL THEN
       |      CASE WHEN dlq <> '' AND ${dHas("utm_medium")} THEN ${dVal("utm_medium")}
       |           WHEN dlq <> '' AND ${dHas("gclid")} THEN 'paid'
       |           ELSE '(none)' END
       |    ELSE
       |      CASE WHEN mh = 'googleadservices' THEN 'paid'
       |           WHEN dlq = '' AND mh IN $dEngines THEN 'organic'
       |           WHEN (dlq = '' AND (mh IS NULL OR mh NOT IN $dEngines))
       |                OR (dlq <> '' AND ${dHas("ref")}) THEN 'referral'
       |           WHEN dlq <> '' AND (${dHas("gclid")} OR ${dHas("gclsrc")} OR ${dHas("dclid")}
       |                OR ${dHas("fbclid")} OR ${dHas("mscklid")}) THEN 'paid'
       |           WHEN dlq <> '' AND ${dHas("utm_medium")} THEN ${dVal("utm_medium")}
       |           ELSE '(none)' END
       |    END""".stripMargin

  private[graft] val dCampaignCase =
    s"CASE WHEN ${dHas("utm_campaign")} THEN ${dVal("utm_campaign")} ELSE '(not set)' END"

  /** URL path per Python urlparse; null URL → ''. */
  private[graft] def dPath(c: String) =
    s"CASE WHEN $c IS NULL THEN '' ELSE regexp_extract($c, '^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/?#]*)?([^?#]*)', 2) END"

  /** Raw-envelope decode CTEs: raw → e(message_id, ip0, ua, body). */
  private[graft] val dRawCtes =
    s"""raw AS (
       |  SELECT decode(from_base64(data)) AS env
       |  FROM read_json('$GaRaw', format='newline_delimited',
       |                 columns={recordId:'VARCHAR', data:'VARCHAR'})),
       |e AS (
       |  SELECT json_extract_string(env,'$$.message_id') AS message_id,
       |         json_extract_string(env,'$$.ip') AS ip0,
       |         json_extract_string(env,'$$.user_agent') AS ua,
       |         json_extract_string(env,'$$.body') AS body
       |  FROM raw)""".stripMargin

  /** The ingest IP anonymization (P9) over column `ip0`. */
  private[graft] val dAnonIp =
    """CASE WHEN strpos(ip0,'.') >= 2
      |       THEN array_to_string(list_slice(string_split(ip0,'.'),1,3),'.') || '.0'
      |     WHEN strpos(ip0,':') >= 2
      |       THEN array_to_string(list_slice(string_split(ip0,':'),1,3),':') || ':0000:0000:0000:0000:0000'
      |     ELSE '0.0.0.0' END""".stripMargin

  private[graft] val dVerRe = "([0-9]+(?:\\.[0-9]+){0,2})"

  /** Dotted-quad v4 → BIGINT over column `c`; null for non-v4. */
  private[graft] def dIpInt(c: String) =
    s"""CASE WHEN regexp_matches($c,'^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$$')
       |  THEN string_split($c,'.')[1]::BIGINT*16777216 + string_split($c,'.')[2]::BIGINT*65536
       |     + string_split($c,'.')[3]::BIGINT*256 + string_split($c,'.')[4]::BIGINT END""".stripMargin

  // ---- LLM-pipeline DuckDB fragments ----
  /** Word-bigram shingle CTEs over `documents`: w (tokens) → sh (exploded
    * distinct shingles). */
  private[graft] def dShingleCtes(from: String = "documents") =
    s"""w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM $from),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |    THEN list_distinct(list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]))
      |    ELSE []::VARCHAR[] END) AS t
      |  FROM w)""".stripMargin

  /** The two retrieval arm CTE stacks of q163 — the q89 keyword stack
    * (ranked only for the query docs), the q55 BM25 fold, and the q26
    * cosine stack — ending in `lrk(query_id, doc_id, lex_rank)` and
    * `vrk(query_id, doc_id, vec_rank)` at depth 10. Shared by the RRF
    * fusion (q163) and the RBO drift metric (q194). */
  private[graft] def dRetrievalArmsCtes() = {
      val (k1, b) = (1.2, 0.75)
      s"""w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM w),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |ksc AS (
        |  SELECT doc_id, term, tf,
        |    round(CAST(tf AS DOUBLE) *
        |      (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0),
        |      6) AS score
        |  FROM tf JOIN dft USING (term) CROSS JOIN nd
        |  WHERE doc_id < 10),
        |krk AS (
        |  SELECT doc_id, term,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term DESC, tf DESC) AS rank
        |  FROM ksc),
        |qkw AS (SELECT DISTINCT doc_id AS query_id, term FROM krk WHERE rank <= 3),
        |dlt AS (SELECT doc_id, CAST(COALESCE(len(toks), 0) AS BIGINT) AS dl FROM w),
        |bst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dlt),
        |btf AS (
        |  SELECT t.doc_id, d.dl, t.term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok t JOIN dlt d USING (doc_id)
        |  WHERE t.term IN (SELECT term FROM qkw)
        |  GROUP BY 1, 2, 3),
        |bdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM btf GROUP BY 1),
        |bs AS (
        |  SELECT doc_id, term,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * ${k1 + 1}) /
        |      (tf + $k1 * (${1 - b} + $b * dl / avgdl)) AS s
        |  FROM btf JOIN bdf USING (term) CROSS JOIN bst),
        |bq AS (
        |  SELECT q.query_id, s.doc_id,
        |    round(list_reduce(list(s.s ORDER BY s.term), (a, x) -> a + x), 4) AS score
        |  FROM bs s JOIN qkw q USING (term)
        |  WHERE s.doc_id <> q.query_id
        |  GROUP BY 1, 2),
        |lrk AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM bq QUALIFY lex_rank <= 10),
        |vq AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |vc AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
        |vs AS (
        |  SELECT query_id, neighbor_id, ${dCosine("qe", "ce")} AS cosine
        |  FROM vq, vc WHERE query_id <> neighbor_id),
        |vrk AS (
        |  SELECT query_id, neighbor_id AS doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS vec_rank
        |  FROM vs QUALIFY vec_rank <= 10)""".stripMargin
  }

  /** 60-bit md5 hash of column `c` (matches Spark conv(md5,16,10)). */
  private[graft] def dMd5Long(c: String) = s"('0x'||substr(md5($c),1,15))::BIGINT"

  /** The sparse part co-purchase graph (parts sharing ≥ 2 orders) —
    * the one fixture the whole graph family reads (q189/q190/q199/
    * q200/q204/q205): `(pu, pv, n_co)`. Memoized + eagerly
    * checkpointed per (session, dir): six queries read one build,
    * exactly as a production run materializes the graph once and
    * derives every statistic from it (the NB-memo discipline). */
  private[graft] val copurchaseMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private[graft] def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    copurchaseMemo.computeIfAbsent((s, dir), _ => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pu"), col("b.l_partkey").as("pv"))
        .agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= 2)
        .localCheckpoint(true)
    })

  /** One-shot brute triangle listing over the co-purchase graph —
    * the shared oracle of q189 (direct counts) and q211 (incremental
    * maintenance must equal the one-shot). */
  private[graft] val dTrianglesOneShot =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT u, v FROM (
        |      SELECT CAST(a.l_partkey AS BIGINT) AS u,
        |        CAST(b.l_partkey AS BIGINT) AS v, COUNT(*) AS c
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |       AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2) t WHERE c >= 2),
        |tri AS (SELECT ab.u AS x, ab.v AS y, bc.v AS z
        |        FROM e ab
        |        JOIN e bc ON ab.v = bc.u
        |        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |nodes AS (SELECT x AS node FROM tri
        |          UNION ALL SELECT y FROM tri
        |          UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY 1""".stripMargin

  /** The supplier-duel stream of [[supplierDuels]] mirrored —
    * `duel(okey, ln, s, q, w, l)` with the same extended sort. Shared
    * by the BT fit (q191) and the agreement report (q202). */
  private[graft] def dDuelsCte() =
    """duel AS MATERIALIZED (
      |  SELECT okey, ln, s, q,
      |    CASE WHEN q > nq THEN s ELSE ns END AS w,
      |    CASE WHEN q > nq THEN ns ELSE s END AS l
      |  FROM (SELECT l_orderkey AS okey, l_linenumber AS ln,
      |          CAST(l_suppkey AS BIGINT) AS s, l_quantity AS q,
      |          CAST(LEAD(l_suppkey) OVER win AS BIGINT) AS ns,
      |          LEAD(l_quantity) OVER win AS nq
      |        FROM lineitem
      |        WINDOW win AS (PARTITION BY l_orderkey
      |          ORDER BY l_linenumber, l_suppkey, l_quantity)) t
      |  WHERE ns IS NOT NULL AND s <> ns AND q <> nq)""".stripMargin

  /** q174's full NB train+score chain, ending in
    * `sp(doc_id, split, curated, n_toks, score_ppm, predicted)` —
    * shared by the classifier gate (q174) and the ranking-metric
    * queries built over the same scores (q192/q193). */
  private[graft] def dNbScoredCtes() = {
    val b = dMd5Long("doc_id::VARCHAR") + " % 100"
    val cur = dMd5Long("doc_id::VARCHAR || ':cur'") + " % 2 = 0"
    s"""m AS (
      |  SELECT doc_id, $cur AS curated,
      |    CASE WHEN $b < 80 THEN 'train'
      |         WHEN $b < 90 THEN 'val' ELSE 'test' END AS split,
      |    CASE WHEN $cur THEN text || ' premium curated' ELSE text END AS t2
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(t2), '\\s+'), x -> x <> '') AS toks
      |  FROM m),
      |tf AS (
      |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM w) GROUP BY 1, 2),
      |cnt AS (
      |  SELECT tok,
      |    CAST(SUM(CASE WHEN curated THEN tf ELSE 0 END) AS BIGINT) AS cg,
      |    CAST(SUM(CASE WHEN NOT curated THEN tf ELSE 0 END) AS BIGINT) AS cb
      |  FROM tf JOIN m USING (doc_id) WHERE split = 'train' GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(cg) AS BIGINT) AS ng, CAST(SUM(cb) AS BIGINT) AS nb,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM cnt),
      |pri AS (
      |  SELECT ln((COUNT(*) FILTER (WHERE curated) + 1)::DOUBLE /
      |    (COUNT(*) FILTER (WHERE NOT curated) + 1)::DOUBLE) AS prior
      |  FROM m WHERE split = 'train'),
      |co AS (
      |  SELECT tf.doc_id, tf.tok, tf.tf,
      |    CAST(tf AS DOUBLE) *
      |      (ln((COALESCE(cg, 0) + 1)::DOUBLE / (ng + v)::DOUBLE) -
      |       ln((COALESCE(cb, 0) + 1)::DOUBLE / (nb + v)::DOUBLE)) AS c
      |  FROM tf LEFT JOIN cnt USING (tok) CROSS JOIN tot),
      |sm AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_toks,
      |    list_reduce(list(c ORDER BY tok), (a, b) -> a + b) AS s
      |  FROM co GROUP BY 1),
      |sc AS (
      |  SELECT m.doc_id, m.split, m.curated,
      |    COALESCE(sm.n_toks, 0) AS n_toks,
      |    CAST(floor(1000000.0 * (COALESCE(sm.s, 0.0) + prior)) AS BIGINT)
      |      AS score_ppm
      |  FROM m LEFT JOIN sm USING (doc_id) CROSS JOIN pri),
      |sp AS (SELECT *, score_ppm > 0 AS predicted FROM sc)""".stripMargin
  }

  /** Pearson r from BIGINT moment sums — the exact expression order of
    * [[graft.operators.IntStats.corrFromSums]]; a count column `n` must
    * be in scope in the surrounding SELECT. */
  private[graft] def dCorr(sx: String, sy: String, sxy: String,
                    sxx: String, syy: String): String =
    s"CASE WHEN n*$sxx - $sx*$sx = 0 OR n*$syy - $sy*$sy = 0 THEN NULL " +
      s"ELSE round(CAST(n*$sxy - $sx*$sy AS DOUBLE) / " +
      s"sqrt(CAST(n*$sxx - $sx*$sx AS DOUBLE) * CAST(n*$syy - $sy*$sy AS DOUBLE)), 6) END"

  /** Unrounded OLS slope from sums (IntStats.slopeFromSums order) —
    * reused inside the intercept so both see the identical double. */
  private[graft] val dSlope =
    "CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)"

  /** DuckDB mirror of [[graft.llm.KMeans]]: seed from the md5 sample,
    * then `iters` unrolled Lloyd rounds (q100's chained-CTE precedent) —
    * cosine-argmax assignment, DECIMAL(38,12)-exact per-(cell, dim)
    * means, emptied cells carrying the previous centroid. */
  /** q65/q122 shared oracle: the greedy packing chain per shard, one
    * recursive step per document position (q58's horizon-chain shape).
    * Both engine formulations — repartition+mapPartitions and the
    * custom planner-visible operator — must match it exactly. */
  private[graft] lazy val dPackChainSql: String =
    s"""WITH RECURSIVE d AS (
      |  SELECT shard, doc_id, nt,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS pos
      |  FROM (SELECT ${dMd5Long("doc_id::VARCHAR")} % 8 AS shard, doc_id,
      |          CAST(COALESCE(len(string_split_regex(text, '\\s+')), 0) AS BIGINT) AS nt
      |        FROM documents)),
      |st AS (
      |  SELECT shard, doc_id, nt, pos, CAST(1 AS BIGINT) AS seq_no, nt AS fill
      |  FROM d WHERE pos = 1
      |  UNION ALL
      |  SELECT d.shard, d.doc_id, d.nt, d.pos,
      |    CASE WHEN st.fill + d.nt > 512 THEN st.seq_no + 1 ELSE st.seq_no END,
      |    CASE WHEN st.fill + d.nt > 512 THEN d.nt ELSE st.fill + d.nt END
      |  FROM st JOIN d ON d.shard = st.shard AND d.pos = st.pos + 1)
      |SELECT shard, doc_id, nt AS n_tokens, seq_no, fill - nt AS "offset"
      |FROM st""".stripMargin

  /** One BPE-budget packing chain (`<p>d` shard/pos table + `<p>st`
    * recursive greedy state) under an arbitrary within-shard order —
    * `""`/doc_id is q117/q129/q130's arrival-order chain; q160 adds an
    * `f`-prefixed `nt DESC, doc_id` chain (next-fit-decreasing). */
  private[graft] def dBpePackChain(p: String, orderSql: String): String =
    s"""${p}d AS (
      |  SELECT shard, doc_id, nt,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY $orderSql) AS pos
      |  FROM (SELECT ${dMd5Long("dd.doc_id::VARCHAR")} % 8 AS shard, dd.doc_id,
      |          CAST(COALESCE(len(b.toks), 0) AS BIGINT) AS nt
      |        FROM documents dd LEFT JOIN bpe b ON dd.doc_id = b.doc_id)),
      |${p}st AS (
      |  SELECT shard, doc_id, nt, pos, CAST(1 AS BIGINT) AS seq_no, nt AS fill
      |  FROM ${p}d WHERE pos = 1
      |  UNION ALL
      |  SELECT d.shard, d.doc_id, d.nt, d.pos,
      |    CASE WHEN st.fill + d.nt > 256 THEN st.seq_no + 1 ELSE st.seq_no END,
      |    CASE WHEN st.fill + d.nt > 256 THEN d.nt ELSE st.fill + d.nt END
      |  FROM ${p}st st JOIN ${p}d d ON d.shard = st.shard AND d.pos = st.pos + 1)""".stripMargin

  /** The q117 BPE-budget packing chain (bpe CTE + shard/pos table + the
    * recursive greedy state), shared by q117 (per-doc rows), q129
    * (the fill-rate aggregate) and q130 (assembly). */
  private[graft] lazy val dBpePackCtes: String =
    s"""${dBpeCte("documents")},
      |${dBpePackChain("", "doc_id")}""".stripMargin

  /** The bounded-K FIRST-FIT-DECREASING chain over `fd` (the
    * `dBpePackChain("f", ...)` doc table): gd (nt-DESC placement
    * positions) → gst, whose recursive state carries the SAME K
    * open-bin (id, fill) lists the Spark pass holds (list_position is
    * 0 — not NULL — on no-fit). Shared by q160 (fill study) and q162
    * (FFD assembly; in-bin order = `pos`, the placement order). */
  private[graft] lazy val dFfdCtes: String = {
    val K = graft.llm.Packing.FfdOpenBins
    val ix = "list_position(list_transform(st.bfills, f -> f + d.nt <= 256), true)"
    s"""gd AS (SELECT shard, doc_id, nt,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY nt DESC, doc_id) AS pos
      |  FROM fd),
      |gst AS (
      |  SELECT shard, doc_id, nt, pos,
      |    CAST(1 AS BIGINT) AS bin,
      |    [CAST(1 AS BIGINT)] AS bids, [CAST(nt AS BIGINT)] AS bfills,
      |    CAST(2 AS BIGINT) AS nextid
      |  FROM gd WHERE pos = 1
      |  UNION ALL
      |  SELECT d.shard, d.doc_id, d.nt, d.pos,
      |    CASE WHEN $ix > 0 THEN st.bids[$ix] ELSE st.nextid END,
      |    CASE WHEN $ix > 0 THEN st.bids
      |         WHEN len(st.bids) >= $K THEN list_append(st.bids[2:], st.nextid)
      |         ELSE list_append(st.bids, st.nextid) END,
      |    CASE WHEN $ix > 0 THEN
      |        list_transform(generate_series(1, len(st.bfills)),
      |          j -> CASE WHEN j = $ix THEN st.bfills[j] + d.nt ELSE st.bfills[j] END)
      |      WHEN len(st.bfills) >= $K THEN list_append(st.bfills[2:], CAST(d.nt AS BIGINT))
      |      ELSE list_append(st.bfills, CAST(d.nt AS BIGINT)) END,
      |    CASE WHEN $ix > 0 THEN st.nextid ELSE st.nextid + 1 END
      |  FROM gst st JOIN gd d ON d.shard = st.shard AND d.pos = st.pos + 1)""".stripMargin
  }

  private[graft] def dKMeansDimsTab(dims: Int) =
    s"(SELECT unnest(generate_series(1, $dims)) AS j)"

  /** CTE chain `c0, s1..c$iters, sf, af` — seed, the unrolled Lloyd
    * rounds, and the final assignment `af(vec_id, cell)`; callers
    * append their own report/consumer CTEs (q120 report, q121 caps). */
  private[graft] def dKMeansCtes(k: Int, iters: Int, dims: Int,
                          src: String = "embeddings"): String = {
    val dimsTab = dKMeansDimsTab(dims)
    def iterCtes(i: Int): String = {
      val p = s"c${i - 1}"
      s"""s$i AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, $dims),
        |      j -> e.embedding[j]::DOUBLE * c.ce[j]))
        |      / sqrt(list_sum(list_transform(c.ce, x -> x * x))) AS score
        |  FROM $src e CROSS JOIN $p c),
        |a$i AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
        |    FROM s$i) t WHERE rk = 1),
        |m$i AS (
        |  SELECT a.cell, d.j,
        |    CAST(SUM(CAST(floor(e.embedding[d.j]::DOUBLE * 10000000.0) AS BIGINT)) AS DOUBLE)
        |      / (CAST(COUNT(*) AS DOUBLE) * 10000000.0) AS m
        |  FROM a$i a JOIN $src e USING (vec_id)
        |  CROSS JOIN $dimsTab d
        |  GROUP BY a.cell, d.j),
        |mc$i AS (SELECT cell, list(m ORDER BY j) AS ce FROM m$i GROUP BY cell),
        |c$i AS (
        |  SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
        |  FROM $p p LEFT JOIN mc$i n ON n.cell = p.cid)""".stripMargin
    }
    s"""c0 AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cid,
      |    list_transform(embedding, x -> x::DOUBLE) AS ce
      |  FROM (SELECT vec_id, embedding FROM $src
      |        ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k) q),
      |${(1 to iters).map(iterCtes).mkString(",\n")},
      |sf AS (
      |  SELECT e.vec_id, c.cid,
      |    list_sum(list_transform(generate_series(1, $dims),
      |      j -> e.embedding[j]::DOUBLE * c.ce[j]))
      |      / sqrt(list_sum(list_transform(c.ce, x -> x * x))) AS score
      |  FROM $src e CROSS JOIN c$iters c),
      |af AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
      |    FROM sf) t WHERE rk = 1)""".stripMargin
  }

  private[graft] def dKMeansSql(k: Int, iters: Int, dims: Int): String = {
    val dimsTab = dKMeansDimsTab(dims)
    s"""WITH ${dKMeansCtes(k, iters, dims)},
      |rep AS (
      |  SELECT c.cid AS cell, d.j - 1 AS dim, c.ce[d.j] AS centroid
      |  FROM c$iters c CROSS JOIN $dimsTab d),
      |st AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |         CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
      |       FROM af GROUP BY 1)
      |SELECT CAST(r.cell AS BIGINT) AS cell, CAST(r.dim AS BIGINT) AS dim,
      |  r.centroid, COALESCE(s.n_vecs, 0) AS n_vecs,
      |  COALESCE(s.sum_vec_id, 0) AS sum_vec_id
      |FROM rep r LEFT JOIN st s USING (cell)""".stripMargin
  }

  /** DuckDB mirror of [[graft.llm.Bpe]]'s encode loop as WITH-RECURSIVE
    * CTE text (caller supplies the leading `WITH RECURSIVE`): replays
    * "merge the leftmost occurrence of the min-rank adjacent pair, one
    * occurrence per step" over the SAME checked-in merges TSV the native
    * expression loads. Pair rank and position are packed into one BIGINT
    * (rank*100000 + i) so list_min finds (min rank, leftmost i) at once;
    * absent pairs rank 100000, so enc >= 100000*100000 means fixpoint.
    * Yields `bpe(doc_id, toks)` — one row per doc, tokens in order. */
  private[graft] def dBpeCte(docsFrom: String): String =
    s"""mm AS (SELECT map(list(l || chr(1) || r), list(rank)) AS m
      |  FROM read_csv('$BpeMerges', delim='\t', header=true, quote='',
      |    columns={'rank':'BIGINT','l':'VARCHAR','r':'VARCHAR'})),
      |bwords AS (
      |  SELECT doc_id, wi, regexp_extract_all(word, '.') AS syms
      |  FROM (SELECT doc_id,
      |      unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word,
      |      generate_subscripts(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), 1) AS wi
      |    FROM $docsFrom)),
      |brec AS (
      |  SELECT doc_id, wi, syms, 0 AS it FROM bwords
      |  UNION ALL
      |  SELECT doc_id, wi,
      |    list_slice(syms, 1, CAST(enc % 100000 AS INT) - 1) ||
      |      [syms[CAST(enc % 100000 AS INT)] || syms[CAST(enc % 100000 AS INT) + 1]] ||
      |      list_slice(syms, CAST(enc % 100000 AS INT) + 2, len(syms)) AS syms,
      |    it + 1
      |  FROM (
      |    SELECT doc_id, wi, syms, it,
      |      list_min(list_transform(range(1, len(syms)),
      |        i -> coalesce(map_extract(m, syms[i] || chr(1) || syms[i+1])[1],
      |               100000::BIGINT) * 100000::BIGINT + i)) AS enc
      |    FROM brec, mm) t
      |  WHERE enc IS NOT NULL AND enc < 100000::BIGINT * 100000::BIGINT),
      |bfin AS (
      |  SELECT doc_id, wi, syms,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id, wi ORDER BY it DESC) AS rn
      |  FROM brec),
      |bpe AS (
      |  SELECT doc_id, flatten(list(syms ORDER BY wi)) AS toks
      |  FROM bfin WHERE rn = 1 GROUP BY doc_id)""".stripMargin

  /** The composed corpus pipeline's CTE chain (quality filter →
    * exact-dedup survivor → near-dup connected components → cluster
    * survivor), ending in `surv` (doc_id, text, n_chars). Shared by the
    * q40 mirror and the q77 end-to-end manifest. Caller supplies a
    * WITH RECURSIVE prefix (the `reach` closure is recursive). */
  private[graft] lazy val dCorpusSurvivorCtes: String = {
    import graft.llm.TextOps.Stopwords
    val enList = Stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""d0 AS (SELECT doc_id, text, n_chars, string_split_regex(text, '\\s+') AS toks FROM documents),
      |tq AS (SELECT *, len(toks) AS nt,
      |  round(len(regexp_replace(text,'[A-Za-z0-9\\s]','','g'))*1.0/len(text), 4) AS pr,
      |  len(list_filter(toks, x -> x IN ($enList))) AS s_en
      |  FROM d0),
      |f AS (
      |  SELECT doc_id, text, n_chars, md5($dNormText) AS fpr FROM tq
      |  WHERE (CASE WHEN nt >= 20 THEN 1 ELSE 0 END)
      |      + (CASE WHEN pr <= 0.1 THEN 1 ELSE 0 END)
      |      + (CASE WHEN round(s_en*1.0/nt, 4) BETWEEN 0.05 AND 0.6 THEN 1 ELSE 0 END)
      |      + (CASE WHEN len(regexp_replace(text,'\\s','','g'))*1.0/nt BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END)
      |      >= 3),
      |ex AS (SELECT doc_id, text, n_chars FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fpr ORDER BY doc_id) AS rn FROM f)
      |  WHERE rn = 1),
      |${dShingleCtes("ex")},
      |hh AS (SELECT DISTINCT doc_id, ${dMd5Long("t")} % ${graft.llm.MinHashLsh.P} AS h FROM sh),
      |$dJaccardTail,
      |prs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs UNION SELECT doc_b, doc_a FROM prs),
      |reach(src, dst) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
      |comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
      |surv AS (
      |  SELECT e.doc_id, e.text, e.n_chars FROM ex e
      |  WHERE e.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id))""".stripMargin
  }

  /** Exact-substring-dedup span CTE chain (code-point folds mirroring
    * `gram_hashes`, 1-based positions, duplicated grams by occurrence
    * count, lag-window interval merge), ending in `spn`
    * (doc_id, span, s, e) — e one past the last covered code point.
    * Shared by the q81 stats mirror and the q84 cut mirror. */
  private[graft] lazy val dSubstrSpanCtes: String = {
    import graft.expressions.Winnow.{B, P}
    val k = 20
    s"""cp AS (
      |  SELECT doc_id,
      |    list_transform(regexp_extract_all(text, '(?s).'), c -> ascii(c)::BIGINT) AS cs
      |  FROM documents),
      |gh AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(cs) - $k + 1),
      |      i -> list_reduce(list_slice(cs, i, i + $k - 1),
      |             (a, c) -> (a * $B + c) % $P)) AS hs
      |  FROM cp WHERE len(cs) >= $k),
      |occ AS (SELECT doc_id, i AS pos, hs[i] AS h FROM (
      |  SELECT doc_id, hs, unnest(generate_series(1, len(hs))) AS i FROM gh)),
      |dup AS (SELECT h FROM occ GROUP BY 1 HAVING COUNT(*) >= 2),
      |m AS (SELECT doc_id, pos FROM occ JOIN dup USING (h)),
      |sp AS (SELECT doc_id, pos,
      |  CASE WHEN pos > COALESCE(
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k,
      |    -1::BIGINT) THEN 1 ELSE 0 END AS brk FROM m),
      |sp2 AS (SELECT doc_id, pos,
      |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span FROM sp),
      |spn AS (SELECT doc_id, span, MIN(pos) AS s, MAX(pos) + $k AS e
      |  FROM sp2 GROUP BY 1, 2)""".stripMargin
  }

  /** The checked-in multi-line/non-ASCII documents fixture as a CTE. */
  private[graft] val dMultilineCte =
    s"""ml AS (
      |  SELECT doc_id, text
      |  FROM read_json('$MultilineDocs', format='newline_delimited',
      |    columns={doc_id: 'BIGINT', text: 'VARCHAR'}))""".stripMargin

  /** Code-point Shannon-entropy mirror over `from` (doc_id, text) —
    * matches CharEntropy's ascending-code-point fold exactly (q97). */
  private[graft] def dEntropySql(from: String): String =
    s"""WITH cps AS (
      |  SELECT doc_id,
      |    unnest(list_transform(regexp_extract_all(text, '(?s).'),
      |      c -> ascii(c)::BIGINT)) AS cp
      |  FROM $from),
      |cnt AS (SELECT doc_id, cp, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM cps GROUP BY 1, 2),
      |nn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |s AS (
      |  SELECT cnt.doc_id, MAX(nn.n) AS n_cp,
      |    list_reduce(
      |      list((CAST(c AS DOUBLE) / nn.n) * ln(CAST(c AS DOUBLE) / nn.n)
      |        ORDER BY cp),
      |      (a, b) -> a + b) AS s
      |  FROM cnt JOIN nn USING (doc_id) GROUP BY 1)
      |SELECT d.doc_id, COALESCE(s.n_cp, 0) AS n_cp,
      |  round(COALESCE((-(s.s)) + 0.0, 0.0), 4) AS entropy
      |FROM $from d LEFT JOIN s USING (doc_id)""".stripMargin

  /** Winnowing shared-span mirror over `from` (doc_id, text): Rabin-Karp
    * k-gram hashes over CODE POINTS (dotall '.', so newlines and astral
    * chars count like the engine's codePoints pass), window minima,
    * df-capped self-join. */
  private[graft] def dWinnowSpanSql(from: String): String = {
    import graft.expressions.Winnow.{B, P}
    val (k, w, minShared, maxDf) = (16, 8, 2, 50)
    s"""WITH cp AS (
      |  SELECT doc_id,
      |    list_transform(regexp_extract_all(text, '(?s).'), c -> ascii(c)::BIGINT) AS cs
      |  FROM $from),
      |gh AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(cs) - $k + 1),
      |      i -> list_reduce(list_slice(cs, i, i + $k - 1),
      |             (a, c) -> (a * $B + c) % $P)) AS hs
      |  FROM cp WHERE len(cs) >= $k + $w - 1),
      |mins AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(hs) - $w + 1),
      |      j -> list_min(list_slice(hs, j, j + $w - 1)))) AS fps
      |  FROM gh),
      |fp AS (SELECT doc_id, unnest(fps) AS fp FROM mins),
      |rare AS (SELECT fp FROM fp GROUP BY 1 HAVING COUNT(*) <= $maxDf)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      |FROM fp a JOIN rare USING (fp) JOIN fp b USING (fp)
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared""".stripMargin
  }

  /** C4-style line-dedup mirror over `from` (doc_id, text): split on \n,
    * drop lines in >= 2 distinct docs (blank lines exempt), reassemble
    * in order. */
  private[graft] def dLineDedupSql(from: String): String =
    s"""WITH d0 AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM $from),
      |ln AS (
      |  SELECT doc_id, i, ${dMd5Long("ls[i]")} AS h, ls[i] AS line
      |  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM d0)),
      |df AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM ln
      |       WHERE trim(line) <> '' GROUP BY 1),
      |kept AS (SELECT doc_id, i, line FROM ln LEFT JOIN df USING (h)
      |         WHERE df IS NULL OR df < 2),
      |rb AS (
      |  SELECT doc_id, array_to_string(list(line ORDER BY i), chr(10)) AS clean_text
      |  FROM kept GROUP BY 1)
      |SELECT d0.doc_id,
      |  CASE WHEN d0.text IS NULL THEN NULL
      |       ELSE COALESCE(rb.clean_text, '') END AS clean_text
      |FROM d0 LEFT JOIN rb USING (doc_id)""".stripMargin

  private[graft] val dJaccardTail =
    """sz AS (SELECT doc_id, count(*) AS n FROM hh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (
      |  SELECT doc_a, doc_b, i, sa.n AS n_a, sb.n AS n_b,
      |         round(i*1.0/(sa.n+sb.n-i), 4) AS jaccard
      |  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)""".stripMargin

  private[graft] val dNormText =
    """trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9\s]','','g'),'\s+',' ','g'))"""

  /** Exact cosine, double precision, left-to-right — mirrors
    * Similarity.cosineD's accumulation order. */
  private[graft] def dCosine(a: String, b: String) =
    s"""round(
       |    list_sum(list_transform(generate_series(1, ${graft.llm.Similarity.Dims}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |    / (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE)))
       |       * sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin

  /** The one-shot exact-integer moment grid over `embeddings` (q169's
    * mirror, and q172's: merged partial grids must equal the one-shot
    * computation exactly): q72's quantization CTE, the upper-triangle
    * second moments via two generate_series laterals, the linear
    * moments, and the count row. */
  private[graft] def dGramSql: String = {
    val d = graft.llm.Similarity.Dims
    s"""WITH e AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x))) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding,
      |                x -> CAST(round(CAST(x AS DOUBLE) * 127 / CAST(scale AS DOUBLE)) AS BIGINT)) END AS ql
      |  FROM e),
      |p AS (
      |  SELECT CAST(i - 1 AS BIGINT) AS di, CAST(j - 1 AS BIGINT) AS dj,
      |    CAST(SUM(ql[i] * ql[j]) AS BIGINT) AS g
      |  FROM q, generate_series(1, $d) t1(i), generate_series(1, $d) t2(j)
      |  WHERE j >= i GROUP BY 1, 2),
      |l AS (
      |  SELECT CAST(i - 1 AS BIGINT) AS di, CAST(-1 AS BIGINT) AS dj,
      |    CAST(SUM(ql[i]) AS BIGINT) AS g
      |  FROM q, generate_series(1, $d) t1(i) GROUP BY 1, 2),
      |c AS (
      |  SELECT CAST(-1 AS BIGINT) AS di, CAST(-1 AS BIGINT) AS dj,
      |    CAST(COUNT(*) AS BIGINT) AS g
      |  FROM q)
      |SELECT di, dj, g FROM p
      |UNION ALL SELECT di, dj, g FROM l
      |UNION ALL SELECT di, dj, g FROM c""".stripMargin
  }

  /** Hyperplane-LSH bucket CTEs over `embeddings`: v (per-table sig
    * columns, generated hyperplane literals) → sv (one row per table). */
  private[graft] def dLshCtes: String = {
    import graft.llm.Similarity
    def planeList(t: Int, j: Int): String =
      Similarity.plane(t, j).mkString("[", ", ", "]")
    def sig(t: Int): String = (0 until Similarity.NumBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(generate_series(1,${Similarity.Dims}), " +
        s"i -> embedding[i]::DOUBLE * (${planeList(t, j)})[i])) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    val sigCols = (0 until Similarity.NumTables)
      .map(t => s"${sig(t)} AS sig$t").mkString(",\n  ")
    val unions = (0 until Similarity.NumTables)
      .map(t => s"SELECT vec_id, $t AS t, sig$t AS sig FROM v").mkString("\n  UNION ALL ")
    s"""v AS (SELECT vec_id, embedding,
       |  $sigCols
       |  FROM embeddings),
       |sv AS (
       |  $unions)""".stripMargin
  }

  /** Integer multi-probe LSH CTEs over `embeddings` (mirrors
    * [[graft.expressions.LshSigsIntExpr]] + [[Similarity.probeMasks]]):
    * mv (per-table integer sig columns) → msv (one row per table) →
    * mmask (the Hamming-≤2 XOR masks, [[Similarity.probeMasks]] order). */
  /** Shared DuckDB stack of the ANN selectivity/quality gates — the
    * twin of [[selFixtureArms]]: cemb (the same IEEE anchor + 0.2·v
    * derivation as Similarity.plantedClusters), the integer-LSH and
    * k-means CTEs over it, exact top-`depth` truth, and both SELECTIVE
    * arms: k-means IVF at probe IvfSelProbe/store 1 (store 1 ⇒ af IS
    * the assignment, no distinct — mirrors the Spark fused path's
    * duplicate-free candidates) ending in `kcand`/`krt`, and
    * single-probe integer LSH (msv joined to itself, no mask CTE)
    * ending in `mcand`/`mrt`; `krt`/`mrt` carry (query_id,
    * neighbor_id, rank ≤ depth). q161 (depth 5) and q165 (depth 10)
    * layer their metric SELECTs over these. */
  private[graft] def dSelArmCtes(depth: Int): String = {
    import graft.llm.Similarity.{Dims, IvfKmeansCells, IvfKmeansIters,
      IvfSelProbe}
    s"""cemb AS (
      |  SELECT e.vec_id,
      |    list_transform(generate_series(1, $Dims),
      |      i -> a.embedding[i]::DOUBLE + 0.2 * e.embedding[i]::DOUBLE) AS embedding
      |  FROM embeddings e JOIN embeddings a ON a.vec_id = e.vec_id % 10),
      |${dLshIntCtes("cemb")},
      |${dKMeansCtes(IvfKmeansCells, IvfKmeansIters, Dims, "cemb")},
      |q AS (SELECT vec_id AS query_id, embedding AS qe FROM cemb WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM cemb),
      |ts AS (
      |  SELECT query_id, neighbor_id, ${dCosine("qe", "ce")} AS cosine
      |  FROM q, c WHERE query_id <> neighbor_id),
      |tr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM ts),
      |truth AS (SELECT query_id, neighbor_id FROM tr WHERE rk <= $depth),
      |e AS (SELECT vec_id, embedding FROM cemb),
      |kqp AS (
      |  SELECT vec_id AS query_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
      |    FROM sf) t WHERE rk <= $IvfSelProbe AND vec_id < 10),
      |kcand AS (
      |  SELECT query_id, a.vec_id AS neighbor_id
      |  FROM kqp JOIN af a USING (cell) WHERE query_id <> a.vec_id),
      |ksc AS (
      |  SELECT query_id, neighbor_id, ${dCosine("kqq.embedding", "kcc.embedding")} AS cosine
      |  FROM kcand JOIN e kqq ON kqq.vec_id = query_id JOIN e kcc ON kcc.vec_id = neighbor_id),
      |krt AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM ksc) t WHERE rank <= $depth),
      |mq AS (SELECT vec_id AS query_id, t, sig FROM msv WHERE vec_id < 10),
      |mcand AS (
      |  SELECT DISTINCT query_id, d.vec_id AS neighbor_id
      |  FROM mq JOIN msv d USING (t, sig) WHERE query_id <> d.vec_id),
      |msc AS (
      |  SELECT query_id, neighbor_id, ${dCosine("mqq.embedding", "mcc.embedding")} AS cosine
      |  FROM mcand JOIN e mqq ON mqq.vec_id = query_id JOIN e mcc ON mcc.vec_id = neighbor_id),
      |mrt AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM msc) t WHERE rank <= $depth)""".stripMargin
  }

  private[graft] def dLshIntCtes(src: String = "embeddings"): String = {
    import graft.llm.Similarity
    val (nTables, nBits) = (Similarity.MpTables, Similarity.MpBits)
    def planeList(t: Int, j: Int): String =
      (0 until Similarity.Dims).map(d => Similarity.planeWeight(t, j, d))
        .mkString("[", ", ", "]")
    def sigInt(t: Int): String = (0 until nBits).map { j =>
      s"(CASE WHEN list_sum(list_transform(generate_series(1,${Similarity.Dims}), " +
        s"i -> embedding[i]::DOUBLE * (${planeList(t, j)})[i])) > 0 " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val sigCols = (0 until nTables)
      .map(t => s"CAST(${sigInt(t)} AS BIGINT) AS msig$t").mkString(",\n  ")
    val unions = (0 until nTables)
      .map(t => s"SELECT vec_id, $t AS t, msig$t AS sig FROM mv")
      .mkString("\n  UNION ALL ")
    val masks = Similarity.probeMasks(nBits, Similarity.MpHamming)
      .mkString("[", ", ", "]")
    s"""mv AS (SELECT vec_id, embedding,
       |  $sigCols
       |  FROM $src),
       |msv AS (
       |  $unions),
       |mmask AS (SELECT CAST(unnest($masks) AS BIGINT) AS m)""".stripMargin
  }

  /** SimHash fingerprint CTEs over `documents` → fp(doc_id, simhash). */
  private[graft] def dSimhashCtes: String = {
    import graft.llm.SimHash.Bits
    val sums = (0 until Bits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n  ")
    val combine = (0 until Bits).map(j =>
      s"(CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
    s"""w AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws FROM documents),
       |tk AS (SELECT doc_id, unnest(ws) AS t FROM w),
       |hh AS (SELECT doc_id, ${dMd5Long("t")} AS h FROM tk),
       |b AS (SELECT doc_id,
       |  $sums
       |  FROM hh GROUP BY 1),
       |fp AS (SELECT doc_id, CAST($combine AS BIGINT) AS simhash FROM b)""".stripMargin
  }

  /** Sessionization CTE stack over the enriched fixture: h (typed scan) →
    * f (gap flag) → r (running session number) → s (timing filter). Extra
    * body columns to scan go in `extraCols` (name:'TYPE' pairs). */
  private[graft] def dGaSessionCtes(extraCols: String) =
    s"""h AS (
       |  SELECT *, received_at_apig::BIGINT AS ms
       |  FROM read_json('$GaEnrichedFile', format='newline_delimited',
       |       columns={body_cid:'VARCHAR', message_id:'VARCHAR', body_t:'VARCHAR',
       |                body_dl:'VARCHAR', body_dr:'VARCHAR', received_at_apig:'VARCHAR'$extraCols})),
       |f AS (
       |  SELECT *, CASE WHEN gap IS NULL OR gap >= 1800000 THEN 1 ELSE 0 END AS is_new
       |  FROM (SELECT *, ms - LAG(ms) OVER (PARTITION BY body_cid ORDER BY ms, message_id) AS gap FROM h)),
       |r AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY body_cid ORDER BY ms, message_id ROWS UNBOUNDED PRECEDING) AS seq
       |  FROM f),
       |s AS (SELECT * FROM r WHERE body_t NOT IN ('adtiming','timing'))""".stripMargin

  // ---- hit-table oracle fragments (q45-q48) ----
  /** TRUE when product slot `i` has any attribute set (the Ecommerce
    * explode's presence test — a slot with only `br` counts). */
  private[graft] def dSlotPresent(i: Int) =
    graft.schema.GaSchemas.productAttrs.map(a => s"body_pr$i$a IS NOT NULL")
      .mkString("(", " OR ", ")")

  /** read_json column decls for all 20x8 product attributes. */
  private[graft] val dProductColDecls =
    (0 until graft.schema.GaSchemas.ProductSlots)
      .flatMap(i => graft.schema.GaSchemas.productAttrs
        .map(a => s"body_pr$i$a:'VARCHAR'"))
      .mkString(", ")

  /** Populated-slot count; explode_outer row multiplicity = max(1, this). */
  private[graft] val dNSlots = (0 until graft.schema.GaSchemas.ProductSlots)
    .map(i => s"(CASE WHEN ${dSlotPresent(i)} THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Per-hit derivations shared by the hit tables: session min/max,
    * per-user event sequence, per-session purchase revenue. Mirrors the
    * `wv`/`evseq`/`rev` fragments of q16/q17 in one CTE. */
  private[graft] val dHitV =
    """v AS (
      |  SELECT *, MIN(ms) OVER wv AS first_value, MAX(ms) OVER wv AS last_value,
      |    ROW_NUMBER() OVER (PARTITION BY body_cid ORDER BY ms, message_id) AS evseq,
      |    SUM(CASE WHEN body_t = 'event' AND body_pa = 'purchase'
      |        THEN CAST(body_tr AS DECIMAL(18,6)) END) OVER wv AS rev
      |  FROM s WINDOW wv AS (PARTITION BY body_cid, seq))""".stripMargin

  /** Identity/sequence head columns of every hit-table projection. */
  private[graft] val dHitHead =
    """body_cid AS fullVisitorId,
      |  md5(body_cid || first_value::VARCHAR || last_value::VARCHAR) AS visitId,
      |  message_id AS requestId,
      |  first_value AS visitStartTime,
      |  CAST(evseq AS BIGINT) AS hits_hitNumber""".stripMargin

  /** Shared by q103 (computed from the corpus) and q216 (served from
    * the posting-list index artifact): one source of truth proves the
    * index answers are EXACTLY the scan answers. */
  private[graft] val PhraseSearchOracle: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(toks) AS term,
      |    generate_subscripts(toks, 1) AS pos
      |  FROM w),
      |p0 AS (SELECT doc_id, list(CAST(pos AS BIGINT) ORDER BY pos) AS ps
      |       FROM tok WHERE term = 'table' GROUP BY 1),
      |p1 AS (SELECT doc_id, list(CAST(pos AS BIGINT) ORDER BY pos) AS ps
      |       FROM tok WHERE term = 'hash' GROUP BY 1),
      |m AS (
      |  SELECT p0.doc_id,
      |    CAST(len(list_filter(p0.ps, p -> list_contains(p1.ps, p + 1)))
      |      AS BIGINT) AS n_matches
      |  FROM p0 JOIN p1 USING (doc_id))
      |SELECT doc_id, n_matches FROM m WHERE n_matches > 0""".stripMargin

  /** Shared by q218 (catalog serving) and q219 (bloom-pruned point
    * lookup): the same journey rows must come back through BOTH serving
    * paths. */
  private[graft] lazy val VisitorJourneyOracle: String =
    s"""WITH ${dGaSessionCtes("")},
      |v AS (
      |  SELECT *, MIN(ms) OVER wv AS first_value, MAX(ms) OVER wv AS last_value
      |  FROM s WINDOW wv AS (PARTITION BY body_cid, seq)),
      |st AS (SELECT * FROM v WHERE is_new = 1),
      |${dUrlCtes("st")}
      |SELECT body_cid AS fullVisitorId,
      |  md5(body_cid || first_value::VARCHAR || last_value::VARCHAR) AS visitId,
      |  CAST(seq AS BIGINT) AS visitNumber,
      |  CAST(strftime(make_timestamp((ms // 1000) * 1000000), '%Y%m%d') AS BIGINT) AS "date",
      |  $dSourceCase AS trafficSource_source,
      |  ${dPath("body_dl")} AS landingPage
      |FROM u2 WHERE body_cid = 'cid-v17'""".stripMargin

  def oracleSql: Map[String, String] =
    Oracle1to99.m ++ Oracle100to199.m ++ Oracle200plus.m
}
