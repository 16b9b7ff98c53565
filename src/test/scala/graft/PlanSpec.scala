package graft

import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.jobs.GaPipeline

/** Plan-quality regression guards: the properties that make these
  * operators survive a 1000x scale-up, asserted on the optimized plans so
  * a refactor can't silently lose them. */
class PlanSpec extends SparkTestBase {

  /** These asserts describe the cold plan. An earlier suite may have left
    * DataFrames persisted on the shared session, and the CacheManager
    * substitutes InMemoryRelation into any logically-equal subtree, which
    * changes exchange counts. */
  private def uncached[A](body: => A): A = {
    spark.catalog.clearCache()
    body
  }

  test("q02: predicate and projection reach the parquet scan") {
    val df = SparkEntry.queries("q02_filter_pushdown")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") && scan.contains("l_shipdate"),
      s"filter not pushed:\n$scan")
    // only the 5 selected columns are read
    assert(!scan.contains("l_comment"), "column pruning lost")
  }

  test("GA sessions pipeline: exactly two hash exchanges (cid, visitor)") {
    uncached {
      val hits = Ingest.readEnrichedHits(
        spark, "fixtures/ga/enriched/year=2019/month=09/day=23")
      val out = GaPipeline.run(hits,
        GaPipeline.loadHistory(spark, "/nonexistent/_x"), "2019-09-23",
        persistExport = false)
      val plan = out.sessions.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2,
        s"sessions pipeline grew to $exchanges hash exchanges:\n$plan")
    }
  }

  test("hit-stage windows share one sort order (no per-window re-sorts by other keys)") {
    uncached {
      val hits = Ingest.readEnrichedHits(
        spark, "fixtures/ga/enriched/year=2019/month=09/day=23")
      val plan = GaPipeline.sessionized(hits).queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"hit stage must cost one shuffle, got $exchanges")
    }
  }

  test("q21 jaccard join stays within its shuffle budget") {
    uncached {
      // cacheSets=false: the default path eagerly checkpoints the result
      // (its plan is an opaque RDD scan) — the lazy variant exposes the
      // full logical shape this budget is about
      val df = graft.llm.MinHashLsh.jaccardJoin(
        graft.sources.Tables.documents(spark, sf),
        col("doc_id"), col("text"), 4, 5, cacheSets = false)
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // dfreq groupBy(h) + join-back, prefix window (by doc_id),
      // candidate self-join (by h), pair distinct, verification joins —
      // an exploded hash-set aggregation or a lost exchange reuse pushes
      // this up
      assert(exchanges <= 8, s"q21 grew to $exchanges hash exchanges")
    }
  }

  test("jaccard join has no window partitioned by shingle hash (skew straggler)") {
    uncached {
      // WindowExec has no partial aggregation: a window keyed by the
      // shingle hash h serializes every row of a hot shingle into one
      // task. Document frequency must come from a map-side-combinable
      // groupBy+join (AQE can skew-split a join, not a window). The only
      // legal window partitioning in this plan is by doc_id (bounded by
      // document size).
      val df = graft.llm.MinHashLsh.jaccardJoin(
        graft.sources.Tables.documents(spark, sf),
        col("doc_id"), col("text"), 4, 5, cacheSets = false)
      val badWindows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.exists {
              case a: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
                a.name == "h"
              case _ => false
            } => w
      }
      assert(badWindows.isEmpty,
        s"found ${badWindows.length} window(s) partitioned by shingle hash h")
    }
  }

  test("per-document sketches are pure projections (zero exchanges)") {
    uncached {
      // a document's fingerprint/hash-set/stats depend only on its own
      // text: any Exchange in these plans is reintroduced data movement
      Seq("q23_simhash", "q24_text_stats", "q33_rolling_hash",
        "q22_minhash_sigs").foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange".r.findAllIn(plan).length
        assert(exchanges == 0, s"$name grew $exchanges exchanges:\n$plan")
      }
    }
  }

  test("q51 stratified sample is a map-side predicate (zero exchanges)") {
    uncached {
      val plan = SparkEntry.queries("q51_stratified_sample")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("Exchange".r.findAllIn(plan).isEmpty,
        s"sampling must not move data:\n$plan")
    }
  }

  test("q50 decontamination joins on the gram hash, not on text") {
    uncached {
      val plan = SparkEntry.queries("q50_decontamination")(spark, sf)
        .queryExecution.executedPlan.toString
      // hash join (broadcast or shuffled — AQE's call at runtime), never
      // a nested loop over documents
      assert(plan.contains("HashJoin"), s"expected a hash join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("q40 corpus pipeline has no window keyed by the exact-dedup fingerprint") {
    uncached {
      // a mass-duplicated document would serialize its fingerprint's
      // window partition into one task; the survivor choice must stay
      // on the map-combinable groupBy(min) + join shape
      val plan = SparkEntry.queries("q40_corpus_pipeline")(spark, sf)
        .queryExecution.optimizedPlan.toString
      val fpWindows = plan.linesIterator.filter(l =>
        l.contains("windowspecdefinition") && l.contains("_fp")).toSeq
      assert(fpWindows.isEmpty, s"fingerprint-keyed window(s):\n${fpWindows.mkString("\n")}")
    }
  }

  test("q53 line dedup reassembles without a window (sort_array agg)") {
    uncached {
      val plan = SparkEntry.queries("q53_line_dedup")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"reassembly must use the bounded sort_array aggregation:\n$plan")
    }
  }

  test("q54 vocab stats aggregate with map-side partials") {
    uncached {
      val plan = SparkEntry.queries("q54_vocab_stats")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("partial_count"),
        s"term counts must combine map-side:\n$plan")
      assert(!plan.contains("Window"), plan)
    }
  }

  test("bucketed tables sort-merge join with zero SHUFFLE exchanges") {
    import graft.sources.Bucketing
    def scrub(): Unit = {
      spark.sql("DROP TABLE IF EXISTS bkt_fact")
      spark.sql("DROP TABLE IF EXISTS bkt_dim")
      // a previously failed run can orphan the managed locations
      for (t <- Seq("bkt_fact", "bkt_dim"))
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"spark-warehouse/$t"))
    }
    uncached {
      scrub()
      try {
        val ev = SparkEntry.queries("q02_filter_pushdown")(spark, sf)
          .select(col("l_orderkey"), col("l_quantity"))
        val dim = ev.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("order_qty"))
        Bucketing.writeBucketed(ev, "bkt_fact", "l_orderkey", 4)
        Bucketing.writeBucketed(dim, "bkt_dim", "l_orderkey", 4)
        // merge hint: the co-location claim is about the SHUFFLE join
        // path (a broadcast join would trivially avoid the shuffle and
        // prove nothing about the bucket layout)
        val joined = spark.table("bkt_fact").hint("merge")
          .join(spark.table("bkt_dim").hint("merge"), "l_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
        assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n$plan")
        // layout changed, semantics didn't
        assert(joined.count() == ev.join(dim, "l_orderkey").count())
      } finally scrub()
    }
  }

  test("q62 exact distincts avoid the multi-distinct Expand") {
    // Two count_distincts in one agg plan as Expand (3x shuffled rows +
    // sort) — q62 deliberately splits them into two-level aggregates
    // joined back on the 5-row key. Lock the shape.
    uncached {
      val plan = SparkEntry.queries("q62_distinct_approx")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"), s"multi-distinct Expand returned:\n$plan")
    }
  }

  test("ANN top-k plans: broadcast query side, no sort-merge or cartesian") {
    // The scale contract of the ANN paths: the query batch is small by
    // construction, so every join in the IVF plan must be a broadcast
    // hash join on the cell key, and neither path may degrade to a
    // SortMergeJoin (quadratic-ish shuffle of the full corpus) or a
    // CartesianProduct. An AQE change or refactor that loses this fails
    // here, not in a 100 TB bench.
    for (q <- Seq("q35_ann_ivf", "q27_ann_lsh")) uncached {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$q degraded to SMJ:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q went cartesian:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$q lost its broadcast join:\n$plan")
    }
    // and the IVF probe join broadcasts the QUERY side specifically
    uncached {
      val ivf = SparkEntry.queries("q35_ann_ivf")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(ivf.contains("BroadcastExchange"), s"query side not broadcast:\n$ivf")
    }
  }

  test("q80 mixture: rate table broadcasts; the corpus is never sort-merge joined") {
    uncached {
      // the per-stratum rate table is #strata rows — if it ever reaches
      // the corpus through a SortMergeJoin, the map-side-sampling claim
      // is gone and the corpus pays a full shuffle for a dimension join
      val plan = SparkEntry.queries("q80_mixture_sample")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"rate join not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"corpus-side SMJ:\n$plan")
    }
  }

  test("q124 temperature mixture: null-safe rate join still broadcasts; q129 report shapes") {
    uncached {
      // the <=> rate join (null strata are strata too) must not demote
      // the dimension join to a sort-merge of the corpus
      val plan = SparkEntry.queries("q124_temperature_mixture")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"rate join not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"corpus-side SMJ:\n$plan")
      // the fill-rate report is the packing chain + ONE extra exchange
      // (the shard groupBy); anything more means the aggregate lost its
      // map-side combine or the chain re-shuffled
      val rep = SparkEntry.queries("q129_packing_efficiency")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(rep).length
      assert(exchanges <= 2, s"expected chain + report exchanges only, got $exchanges:\n$rep")
    }
  }

  test("q81 substring spans: no window keyed by the gram hash, map-side dup counts") {
    uncached {
      // a boilerplate gram present in 10^8 positions must be counted by
      // a partial-aggregating groupBy, and the only window partitioning
      // is by doc_id (bounded by document length)
      val df = graft.llm.SubstringDedup.gramOccurrences(
        graft.sources.Tables.documents(spark, sf), col("doc_id"), col("text"), 20)
      val dupPlan = df.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
        .queryExecution.executedPlan.toString
      assert(dupPlan.contains("partial_count"),
        s"dup-gram counts must combine map-side:\n$dupPlan")
      // cacheOcc=false: the eager-checkpointed default hides the plan
      val spans = graft.llm.SubstringDedup.duplicatedSpans(
        graft.sources.Tables.documents(spark, sf), col("doc_id"), col("text"),
        20, cacheOcc = false)
      val badWindows = spans.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.exists {
              case a: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
                a.name == "h"
              case _ => false
            } => w
      }
      assert(badWindows.isEmpty,
        s"found ${badWindows.length} window(s) partitioned by gram hash h")
    }
  }

  test("q78 cross-set pairs: hash joins only, no cartesian, no window") {
    uncached {
      val docs = graft.sources.Tables.documents(spark, sf)
      val cross = graft.llm.IncrementalDedup.crossPairs(
        graft.llm.MinHashLsh.hashSets(docs.limit(100), col("doc_id"), col("text")),
        graft.llm.MinHashLsh.hashSets(docs.limit(40), col("doc_id"), col("text")),
        0.8, cacheSets = false)
      val plan = cross.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"cross pairs must stay an equi-join on (band, key):\n$plan")
      assert(!plan.contains("Window"), s"no window belongs here:\n$plan")
    }
  }

  test("q89/q90: grouped top-k stays a bounded-heap aggregate, not a window") {
    uncached {
      val docs = graft.sources.Tables.documents(spark, sf)
      // tf-idf: lazy variant exposes the shape; default path persists
      // tf across its two consumers and checkpoints (BigramLm lifecycle)
      val lazyPlan = graft.llm.TfIdf.topTerms(docs, col("doc_id"),
        col("text"), k = 3, cache = false)
        .queryExecution.executedPlan.toString
      assert(!lazyPlan.contains("Window"),
        s"q89 regressed to a window sort (hot doc = straggler):\n$lazyPlan")
      assert(lazyPlan.contains("collect_top_k"),
        s"q89 lost the bounded-heap top-k aggregate:\n$lazyPlan")
      val defPlan = SparkEntry.queries("q89_tfidf_topk")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(defPlan.contains("ExistingRDD"),
        s"q89 default path must return the checkpointed result:\n$defPlan")
      assert(spark.sharedState.cacheManager.isEmpty,
        "q89's tf cache must be unpersisted before returning")
      val wPlan = SparkEntry.queries("q90_weighted_sample")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!wPlan.contains("Window"),
        s"q90 regressed to a window sort (hot stratum = straggler):\n$wPlan")
      assert(wPlan.contains("collect_top_k"),
        s"q90 lost the bounded-heap top-k aggregate:\n$wPlan")
    }
  }

  test("q92 chunking: pure generator projection, zero exchanges") {
    uncached {
      val plan = SparkEntry.queries("q92_doc_chunks")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"chunking must not shuffle (per-row generator):\n$plan")
    }
  }

  test("q94 cube: one Expand, one shuffle (not four separate passes)") {
    uncached {
      val plan = SparkEntry.queries("q94_cube_report")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Expand"), s"cube lost its Expand:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"cube must cost one shuffle, got $exchanges:\n$plan")
    }
  }

  test("q91 bigram LM: no window; default path persists tf and checkpoints") {
    uncached {
      val docs = graft.sources.Tables.documents(spark, sf)
      // lazy variant exposes the logical shape: no window anywhere
      val lazyPlan = graft.llm.BigramLm.score(docs, col("doc_id"),
        col("text"), cache = false).queryExecution.executedPlan.toString
      assert(!lazyPlan.contains("Window"), s"no window belongs here:\n$lazyPlan")
      // default path: tf persisted across its three consumers, result
      // checkpointed, cache released (MinHashLsh lifecycle)
      val out = graft.llm.BigramLm.score(docs, col("doc_id"), col("text"))
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
        s"default path must return the checkpointed result:\n$plan")
      assert(spark.sharedState.cacheManager.isEmpty,
        "tf cache must be unpersisted before returning")
    }
  }

  test("q93 bloom filter broadcasts; the corpus side is never shuffled for it") {
    uncached {
      val plan = SparkEntry.queries("q93_bloom_prune")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastExchange"),
        s"bloom bits must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"no sort-merge join belongs in the bloom path:\n$plan")
    }
  }

  test("q104 scd2: one exchange, one sort serves both windows") {
    uncached {
      val plan = SparkEntry.queries("q104_scd2_intervals")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"scd2 must cost one shuffle, got $exchanges:\n$plan")
      val sorts = "Sort \\[".r.findAllIn(plan).length
      assert(sorts <= 2, s"lag+lead should share the (key, ts, tie) sort:\n$plan")
    }
  }

  test("no cartesian products anywhere in the query inventory") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name contains a cartesian product")
    }
  }

  test("no unpartitioned windows anywhere in the query inventory") {
    // an empty partitionSpec moves ALL rows to one partition — the
    // classic silent scale-killer (round-9: q198's offset window was
    // caught by exactly this smell and rewritten as a bounded join)
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    SparkEntry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, sf).queryExecution.executedPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      assert(bad.isEmpty, s"$name moves all rows to one partition: $bad")
    }
  }

  test("q216 phrase serving reads ONLY the index artifact — no scan " +
    "of the documents corpus") {
    val df = uncached(SparkEntry.queries("q216_phrase_from_index")(spark, sf))
    // scan roots from the OPTIMIZED plan (the executed plan hides leaf
    // scans inside AdaptiveSparkPlanExec until execution)
    val scans = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    assert(scans.nonEmpty, "expected file scans of the index")
    assert(scans.forall(_.contains("graft_posting_idx_")),
      s"plan must touch only the index table, scanned: $scans")
    assert(!scans.exists(_.contains("documents.parquet")),
      "the corpus must never be scanned at serve time")
  }

  test("q217/q218 serving reads are partition-pruned catalog scans") {
    // the date-range predicates must be answered from partition
    // metadata (PartitionFilters on year/month/day), and the scan must
    // touch only the sessions type's directories
    Seq("q217_serving_sessions_by_source", "q218_serving_visitor_journey")
      .foreach { name =>
        val df = uncached(SparkEntry.queries(name)(spark, sf))
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("PartitionFilters: [") &&
          "PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).isDefined,
          s"$name: no partition filter on day:\n$plan")
      }
    // file-level proof on the row-preserving query (input_file_name is
    // undefined above an aggregate, so q217's agg can't carry it):
    // every file the journey read came from the sessions type's range
    val journey = uncached(SparkEntry.queries("q218_serving_visitor_journey")(
      spark, sf))
    val scanned = journey.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("type=sessions")),
      s"journey touched non-sessions partitions: ${scanned.mkString(", ")}")
  }

  test("q218 unified table: resolves through ManifestFileIndex, and the " +
    "scanned file set EQUALS the bloom index's prediction within the " +
    "day range — snapshot + partition + bloom pruning in one " +
    "spark.table() resolution") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.BloomFileIndex
    val df = uncached(SparkEntry.queries("q218_serving_visitor_journey")(
      spark, sf))
    // the relation must be pinned to a committed manifest version
    val mfis = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fsr: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fsr.location match {
              case m: graft.sources.ManifestFileIndex => Seq(m)
              case _ => Seq.empty
            }
          case _ => Seq.empty
        }
    }.flatten
    assert(mfis.nonEmpty, "q218 must resolve through ManifestFileIndex")
    assert(mfis.head.version >= 1L)
    val scanned = df.queryExecution.executedPlan.collectLeaves().flatMap {
      case sc: FileSourceScanExec =>
        sc.selectedPartitions.toPartitionArray
          .map(f => f.filePath.toPath.toUri.getPath)
      case _ => Nil
    }.toSet
    // the bloom index's own prediction for cid-v17 — PLUS any live
    // file the index has no row for (a ZERO-ROW part file never
    // appears in the build's groupBy; the fail-open contract keeps
    // unprovable files as candidates) — restricted to the query's day
    // range: the unified plan must open EXACTLY these
    val idx = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ga_serving_bloom_idx").toString
    val (cand, total) = BloomFileIndex.prunedPaths(spark, idx,
      lit("cid-v17"))
    val indexed = spark.read.parquet(idx).select("file")
      .collect().map(r => BloomFileIndex.norm(r.getString(0))).toSet
    val root = mfis.head.root
    val live = graft.sources.Manifest.current(spark, root.toString).get._2
      .map(f => BloomFileIndex.norm(
        new org.apache.hadoop.fs.Path(root, f).toString)).toSet
    val expect = (cand.map(BloomFileIndex.norm).toSet ++ (live -- indexed))
      .filter(p => p.contains("day=22") || p.contains("day=23"))
    assert(scanned == expect,
      s"scanned=$scanned\nbloom-predicted=$expect")
    assert(scanned.nonEmpty && scanned.size < total,
      s"point lookup must prune files: ${scanned.size} of $total")
    // and the bloom actually prunes within the day range: at least one
    // live in-range file was NOT opened
    val inRange = live.filter(p => p.contains("day=22") || p.contains("day=23"))
    assert(scanned.size < inRange.size,
      s"bloom pruned nothing: opened ${scanned.size} of ${inRange.size}")
  }

  test("q212 top-10 is TakeOrdered, not a global sort or window") {
    val plan = uncached(SparkEntry.queries("q212_behavior_trigrams")(
      spark, sf).queryExecution.executedPlan.toString)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("rank("), "no rank window needed for a top-k")
  }

  test("q192 AUC: the rank window and the reduction share one exchange") {
    val plan = uncached(SparkEntry.queries("q192_classifier_auc")(
      spark, sf).queryExecution.executedPlan.toString)
    // the scored input arrives checkpointed; after it, one hash
    // exchange on grp serves the rank window, the tie counts, and the
    // final groupBy (same key) — re-sorts are fine, re-shuffles not
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges <= 2, s"AUC should not re-shuffle per stage:\n$plan")
  }

  test("pagerank loop body reuses the persisted edge partitioning " +
    "(no exchange on the edge side inside an iteration)") {
    uncached {
      val edges = graft.sources.Tables.events(spark, sf)
        .select((col("user_id") % 40).as("src"), (col("event_id") % 40).as("dst"))
      val (g, nodes) = graft.operators.PageRank.buildGraph(
        edges, col("src"), col("dst"))
      try {
        g.count() // materialize the cache, as iteration 1 would find it
        val ranks0 = nodes.withColumn("rank", lit(1.0)).localCheckpoint(true)
        val plan = graft.operators.PageRank.step(g, ranks0, 0.85)
          .queryExecution.executedPlan.toString
        assert(plan.contains("InMemoryTableScan"),
          s"loop body must probe the cached edges:\n$plan")
        // The InMemoryTableScan prints its CACHED BUILD plan as deeper-
        // indented innerChildren — that one-time cost must not count
        // against the per-iteration budget, so drop every line nested
        // under an IMR scan before counting.
        def depth(ln: String) = ln.segmentLength(c => " :+-".contains(c))
        val outer = new StringBuilder
        var skipBelow = -1
        plan.split("\n").foreach { ln =>
          val d = depth(ln)
          if (skipBelow >= 0 && d > skipBelow) () // inside a cached plan
          else {
            skipBelow = if (ln.contains("InMemoryTableScan")) d else -1
            outer ++= ln += '\n'
          }
        }
        // budget: ranks side into the join + groupBy(dst, bucket) + the
        // level-2 groupBy(dst) (its exchange ships one row per
        // (dst, bucket) — bucket partials, not contributions) + the
        // left join back onto nodes. The edge side must NOT add one —
        // losing the InMemoryRelation's hashpartitioning(src) (e.g.
        // swapping persist for checkpoint) pushes this to 5+ and costs
        // a full edge shuffle PER ITERATION at scale.
        val exchanges =
          "Exchange hashpartitioning".r.findAllIn(outer.result()).length
        assert(exchanges <= 4,
          s"iteration grew to $exchanges hash exchanges:\n$plan")
        // the level-1 fold must key by (dst, bucket), never a bare dst
        // collect_list over the full in-degree (the round-14 skew/OOM
        // shape) — `src div 2^20` is an aggregate KEY, either inline or
        // through the alias the optimizer pulls grouping expressions
        // out into
        val body = outer.result()
        val div = s"div ${graft.operators.PageRank.FoldBucketWidth}"
        val bucketNames = ("(\\(\\S+ " + java.util.regex.Pattern.quote(div) +
          "\\))(?: AS ([^\\s,\\]]+))?").r.findAllMatchIn(body)
          .flatMap(m => Seq(m.group(1)) ++ Option(m.group(2))).toSeq
        val aggKeys = "Aggregate\\(keys=\\[([^\\]]*)\\]".r
          .findAllMatchIn(body).map(_.group(1)).toSeq
        assert(aggKeys.exists(k =>
            k.contains("dst#") && bucketNames.exists(k.contains)),
          s"two-level fold bucket key ($div) missing from the loop " +
            s"body's aggregate keys:\n$plan")
      } finally g.unpersist()
    }
  }

  test("q101 containment probe: no cartesian, bounded exchanges") {
    uncached {
      val plan = SparkEntry.queries("q101_containment_join")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // a-side grams + b-side index + candidate equi-join + pair
      // distinct + the two verify joins — the one-sided prefix shape;
      // an accidental all-pairs or re-shuffle pushes past this.
      assert(exchanges <= 9, s"q101 grew to $exchanges hash exchanges:\n$plan")
    }
  }

  test("bpe tokenize is a pure projection; bpe packing costs one shard shuffle") {
    uncached {
      val tok = SparkEntry.queries("q116_bpe_tokens")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!tok.contains("Exchange"),
        s"tokenization must not shuffle:\n$tok")
      val pack = SparkEntry.queries("q117_bpe_packing")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(pack).length
      assert(exchanges == 1,
        s"packing must cost exactly the shard exchange, got $exchanges:\n$pack")
    }
  }

  test("size(bpe_encode(x)) is optimizer-rewritten to the native bpe_count") {
    uncached {
      val df = graft.sources.Tables.documents(spark, sf)
        .select(size(call_function("bpe_encode", col("text"))).as("n"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("bpe_count"),
        s"rewrite must substitute bpe_count:\n$opt")
      assert(!opt.contains("size(bpe_encode"),
        s"the size-over-array form must be gone:\n$opt")
      // the id-stream form counts tokens too (one id per token)
      val optIds = graft.sources.Tables.documents(spark, sf)
        .select(size(call_function("bpe_encode_ids", col("text"))).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(optIds.contains("bpe_count") && !optIds.contains("size(bpe_encode"),
        s"size(bpe_encode_ids) must rewrite too:\n$optIds")
      // NEGATIVE: when the token array itself is consumed next to the
      // size, the rewrite must NOT fire (it would break codegen
      // subexpression sharing — two merge loops instead of one)
      val enc = call_function("bpe_encode", col("text"))
      val optShared = graft.sources.Tables.documents(spark, sf)
        .select(size(enc).as("n"), enc.as("toks"))
        .queryExecution.optimizedPlan.toString
      assert(!optShared.contains("bpe_count"),
        s"shared-array case must keep size(bpe_encode):\n$optShared")
      // and the packing entry (the real consumer) gets it too
      val pack = SparkEntry.queries("q117_bpe_packing")(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(pack.contains("bpe_count"),
        s"q117's budget must run on bpe_count:\n$pack")
      // semantics: counts identical to the array form, null included
      val got = spark.sql(
        "SELECT bpe_count('the sort order'), bpe_count(CAST(NULL AS STRING))").head()
      assert(got.getInt(0) == graft.llm.Bpe.encode("the sort order").length)
      assert(got.isNullAt(1))
      // the rewritten form keeps size()'s own null contract (legacy -1
      // or ANSI NULL, whichever this session is configured for)
      val nulls = spark.sql(
        """SELECT size(bpe_encode(CAST(NULL AS STRING))) AS a,
          |       size(CAST(NULL AS ARRAY<STRING>)) AS b""".stripMargin).head()
      assert(nulls.isNullAt(0) == nulls.isNullAt(1))
      if (!nulls.isNullAt(0)) assert(nulls.getInt(0) == nulls.getInt(1))
    }
  }

  test("q118 freshness probe: one aggregate, scan reads only (event_type, ts)") {
    uncached {
      val plan = SparkEntry.queries("q118_freshness_probe")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"probe must be one agg exchange:\n$plan")
      assert(!plan.contains("props") && !plan.contains("user_id"),
        s"probe scan must prune to (event_type, ts):\n$plan")
    }
  }

  test("k-means iteration: broadcast-literal assignment (no join), one " +
    "exchange for the (cell, dim) means") {
    uncached {
      val vecs = graft.sources.Tables.embeddings(spark, sf)
      val cents = graft.llm.Similarity.centroidSeq(vecs, graft.llm.KMeans.K)
      val plan = graft.llm.KMeans.meansPlan(vecs, cents)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"centroids must ride as literals, not a join:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"one map-combinable agg exchange expected, got $exchanges:\n$plan")
    }
  }

  test("custom GreedyPack operator: planner inserts exchange+sort for a " +
    "cold child, reuses an existing shard partitioning") {
    uncached {
      import graft.llm.{Packing, TextOps}
      val docs = graft.sources.Tables.documents(spark, sf)
      val base = Packing.packedBase(docs, col("doc_id"),
        TextOps.nTokens(col("text")), shards = 8)
      // cold child: EnsureRequirements must add exactly one exchange
      // and one sort to satisfy the DECLARED requirements
      val cold = graft.plans.GreedyPack(base, budget = 512L)
        .queryExecution.executedPlan.toString
      assert(cold.contains("GreedyPack"), s"custom op not planned:\n$cold")
      assert("Exchange hashpartitioning".r.findAllIn(cold).length == 1, cold)
      assert("Sort \\[".r.findAllIn(cold).length == 1, cold)
      // pre-partitioned child: the declared distribution is already
      // satisfied — no second exchange appears (the optimization the
      // mapPartitions formulation cannot express)
      val warm = graft.plans.GreedyPack(base.repartition(col("shard")),
        budget = 512L).queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(warm).length == 1,
        s"partitioning not reused:\n$warm")
    }
  }

  test("q96 verify stage runs the banded expression on candidates only") {
    uncached {
      val plan = SparkEntry.queries("q96_edit_distance_pairs")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("bounded_levenshtein"),
        s"verify must use the banded O(maxd*L) expression:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 10, s"q96 grew to $exchanges hash exchanges:\n$plan")
    }
  }

  test("q146/q149: window queries cost one hash exchange on their key") {
    uncached {
      // q146's rank and size windows share the user_id partitioning —
      // a second exchange would mean the two windows stopped sharing it
      val credit = SparkEntry.queries("q146_attribution_credit")(spark, sf)
        .queryExecution.executedPlan.toString
      val creditEx = "Exchange hashpartitioning".r.findAllIn(credit).length
      assert(creditEx <= 2, // user window + final channel groupBy
        s"q146 grew to $creditEx exchanges:\n$credit")
      val range = SparkEntry.queries("q149_range_frame")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(range).length == 1,
        s"q149 must cost exactly the user_id shuffle:\n$range")
    }
  }

  test("stats pack: q131 is one shuffle; q134/q135 broadcast group stats") {
    uncached {
      // Moment sums: one map-combinable aggregate — exactly one exchange.
      val corr = SparkEntry.queries("q131_signal_corr")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(corr).length == 1,
        s"q131 must cost one shuffle:\n$corr")
      assert(!corr.contains("Window"), s"no window belongs in q131:\n$corr")
      // Normalization joins the O(groups) stats table back by BROADCAST:
      // the corpus side must never shuffle for the join.
      val z = SparkEntry.queries("q134_zscore_norm")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(z.contains("BroadcastHashJoin"),
        s"group stats must broadcast onto the corpus:\n$z")
      assert(!z.contains("SortMergeJoin"), s"corpus-side shuffle crept in:\n$z")
      val mad = SparkEntry.queries("q135_mad_outliers")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(mad.contains("BroadcastHashJoin") && !mad.contains("SortMergeJoin"),
        s"median/MAD tables must broadcast:\n$mad")
    }
  }

  test("q130 assembly evaluates the BPE merge loop at ONE codegen call site") {
    uncached {
      val df = SparkEntry.queries("q130_sequence_assembly")(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      // the budget is size(bpe_encode_ids(text)) next to the bare stream:
      // BpeCountRewrite's bare-consumed guard must NOT substitute
      // bpe_count (that would force a second, unshareable merge loop)
      assert(!opt.contains("bpe_count"),
        s"budget must stay size() so the stream is shared:\n$opt")
      // no second encode branch: the string-token form is gone entirely
      assert("bpe_encode\\((?!_)".r.findFirstIn(opt).isEmpty,
        s"q130 must not also run bpe_encode:\n$opt")
      // codegen subexpression elimination: the generated whole-stage
      // code calls computeIds exactly once. Checked on the standalone
      // base projection (codegenString cannot descend into AQE query
      // stages) — the identical size(ids)+ids projection q130's
      // optimized plan was just asserted to contain.
      val ids = call_function("bpe_encode_ids", col("text"))
      val proj = graft.sources.Tables.documents(spark, sf)
        .select(coalesce(size(ids).cast("long"), lit(0L)).as("n_tokens"),
          ids.as("_ids"))
      val code = org.apache.spark.sql.execution.debug
        .codegenString(proj.queryExecution.executedPlan)
      val sites = "BpeEncode\\.computeIds\\(".r.findAllIn(code).length
      assert(sites == 1,
        s"merge loop must have exactly one generated call site, got $sites")
      // and the fused pass also dropped the doc_id join: two hash
      // exchanges total (shard repartition + the sequence groupBy)
      val phys = df.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(phys).length <= 2,
        s"assembly must not re-join the streams:\n$phys")
      assert(!phys.contains("SortMergeJoin") && !phys.contains("BroadcastHashJoin"),
        s"assembly must be join-free:\n$phys")
    }
  }

  test("q162 FFD assembly keeps q130's shape: join-free, ≤2 hash exchanges") {
    uncached {
      val phys = SparkEntry.queries("q162_ffd_assembly")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(phys).length <= 2,
        s"FFD assembly must ride one shard exchange + one groupBy:\n$phys")
      assert(!phys.contains("SortMergeJoin") && !phys.contains("BroadcastHashJoin"),
        s"FFD assembly must be join-free:\n$phys")
    }
  }

  test("q163 hybrid retrieval: corpus tokens semi-join the broadcast term " +
    "set; only broadcast-scalar cross joins; fusion never sort-merges the corpus") {
    uncached {
      val phys = SparkEntry.queries("q163_hybrid_retrieval")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("BroadcastHashJoin .*LeftSemi".r.findFirstIn(phys).nonEmpty,
        s"query-term filter must be a broadcast semi-join before any exchange:\n$phys")
      // the only nested-loop joins are the 1-row scalar broadcasts
      // (corpus stats); a real cartesian would be a Cross WITHOUT build
      assert(!phys.contains("CartesianProduct"),
        s"no cartesian product belongs here:\n$phys")
      // full-outer fusion joins two ≤k-row-per-query lists — the single
      // allowed sort-merge; the corpus itself must never reach one
      val smj = "SortMergeJoin".r.findAllIn(phys).length
      assert(smj <= 1, s"only the RRF fusion may sort-merge, got $smj:\n$phys")
    }
  }

  test("deletion vectors in the unified table plan: ZERO overhead " +
    "while no DVs exist (no filter in the plan), and once a DV lands " +
    "the scan-side row filter appears WITHOUT losing partition pruning") {
    import graft.sources.{GraftTable, Manifest}
    val path = java.nio.file.Files
      .createTempDirectory("graft_dvplan").toString + "/t"
    import spark.implicits._
    Seq((1L, "d1", 10L), (2L, "d1", 20L), (3L, "d2", 30L))
      .toDF("id", "day", "v").write.partitionBy("day").parquet(path)
    Manifest.bootstrap(spark, path)
    val tag = Integer.toHexString(path.hashCode)
    GraftTable.register(spark, "graft_test", s"dvplan_$tag", path)
    def q() = uncached(
      spark.table(s"graft_test.dvplan_$tag").where(col("day") === "d1"))
    // pre-DV: the resolution wrap must not exist — a table that never
    // saw a delete pays nothing
    val clean = q().queryExecution.optimizedPlan.toString
    assert(!clean.contains("Join") && !clean.contains("graft_dv_filter"),
      s"DV-less table must plan as a bare scan:\n$clean")
    Manifest.deleteWhere(spark, path, col("id") === 1L)
    val df = q()
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("graft_dv_filter") && !phys.contains("Join"),
      s"DV'd table must serve through the scan-side filter:\n$phys")
    // partition pruning pushes through the DV filter: the
    // day filter must reach the MAIN scan as a PartitionFilter, and
    // the pruned file listing must hold exactly the d1 files
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(phys).isDefined,
      s"day filter did not reach the scan as a partition filter:\n$phys")
    import org.apache.spark.sql.execution.FileSourceScanExec
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose children aren't visible to collect
    val mainScans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.isInstanceOf[graft.sources.ManifestFileIndex]
        => f
    }
    assert(mainScans.nonEmpty, s"no manifest-pinned scan in:\n$phys")
    val listed = mainScans.head.relation.location
      .listFiles(mainScans.head.partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath.toString)
    assert(listed.nonEmpty && listed.forall(_.contains("day=d1")),
      s"partition pruning lost under the DV wrap: ${listed.mkString(", ")}")
    assert(df.select("id").as[Long].collect().toSet == Set(2L))
  }
}
