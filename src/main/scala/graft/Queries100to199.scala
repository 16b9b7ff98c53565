package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetSchema, Tables}
import graft.operators.{Attribution, Ecommerce, Sessionization}
import graft.ingest.Ingest
import graft.functions.GaFunctions

/** One third of the driver-contract query registry (split from the
  * single 12k-line SparkEntry per the round-12 verdict — pure move, no
  * behavior change): queries q100-q199. Shared fixtures, memos, and numeric
  * conventions live in [[SparkEntry]]; the registry is the union of
  * the three chunk objects. */
private[graft] object Queries100to199 {
  import SparkEntry._

  val m: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Page-transition counts over the pageview export (the "top next
    // page" analysis): lag over each visit's hit order — the window is
    // bounded by a session's pageview count — then a map-combinable
    // pair count. Composes the memoized GA pipeline output.
    "q115_ga_transitions" -> ((s, _) => gaTransitionCounts(s)),

    // Markov transition PROBABILITIES over the q115 page-transition
    // counts: per from_path, each destination's share in floor-ppm —
    // the navigation model behind next-page prediction and funnel
    // leak analysis. Row-count totals broadcast back onto the tiny
    // transition table; integers end to end.
    "q155_ga_transition_probs" -> ((s, _) => {
      val counts = gaTransitionCounts(s) // the q115 gate shares this def
      val totals = counts.groupBy("from_path")
        .agg(sum("n_transitions").as("n_out"))
      counts.join(broadcast(totals), "from_path")
        .select(col("from_path"), col("to_path"), col("n_transitions"),
          col("n_out"),
          floor(lit(1000000.0) * col("n_transitions") /
            greatest(col("n_out"), lit(1L))).cast("long").as("prob_ppm"))
    }),

    // Landed-data freshness probe (the batch half of the S10 monitor,
    // streaming/FreshnessMonitor): latest event time + volume per event
    // type — ONE map-combinable aggregate over just (event_type, ts),
    // column-pruned at the scan; the alarm predicate compares max_ts_ms
    // against now() outside the engine. The per-type split is what an
    // operator actually pages on (one silent source among many).
    "q118_freshness_probe" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(max(unix_millis(col("ts"))).as("max_ts_ms"),
          min(unix_millis(col("ts"))).as("min_ts_ms"),
          count(lit(1)).as("n_rows"))
    }),

    // Join-key SKEW report — the statistics that decide broadcast vs
    // shuffle vs salt (q34/q66's remedies) BEFORE a 100 TB join:
    // per candidate key, cardinality, heaviest-key share (top1_ppm) and
    // max/mean ratio (skew_x100; 100 = uniform). Each arm is a
    // two-level map-combinable aggregate over a single pruned column —
    // the same shape ANALYZE-style stats collection uses.
    "q150_skew_report" -> ((s, dir) => {
      import graft.operators.Profiling.{keySkew => keyStats}
      Seq(
        keyStats("lineitem", Tables.lineitem(s, dir), "l_orderkey"),
        keyStats("lineitem", Tables.lineitem(s, dir), "l_partkey"),
        keyStats("lineitem", Tables.lineitem(s, dir), "l_suppkey"),
        keyStats("orders", Tables.orders(s, dir), "o_custkey"),
        keyStats("events", Tables.events(s, dir), "user_id"),
        keyStats("documents", Tables.documents(s, dir), "lang")
      ).reduce(_ unionByName _)
    }),

    // Incremental aggregate MAINTENANCE — the materialized-view merge a
    // daily pipeline runs instead of recomputing 100 TB: history and
    // delta batches aggregate INDEPENDENTLY (here deliberately at
    // different partitionings) into per-key moment sums, then merge by
    // adding sums. The oracle computes the one-shot aggregation of the
    // union: the hash gate IS the proof that the state merges exactly —
    // the property every sum here was designed for (and the reason
    // floating aggregates can't be maintained incrementally).
    "q148_agg_merge" -> ((s, dir) => {
      import graft.llm.Splits
      val ev = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), floor(col("value") * 1000).cast("long").as("mv"))
      val isHist = Splits.md5Bucket(col("event_id"), 100) < 80
      def agg(df: DataFrame) = df.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("mv").as("s"),
        sum(col("mv") * col("mv")).as("s2"))
      val hist = agg(ev.filter(isHist).repartition(7, col("event_type")))
      val delta = agg(ev.filter(!isHist).repartition(3, col("mv")))
      hist.as("h").join(delta.as("d"), Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("h.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n_events"),
          (coalesce(col("h.s"), lit(0L)) + coalesce(col("d.s"), lit(0L))).as("sum_mv"),
          (coalesce(col("h.s2"), lit(0L)) + coalesce(col("d.s2"), lit(0L))).as("sum_mv2"))
    }),

    // RANGE-frame window — the event-time trailing aggregate the ROWS
    // frames elsewhere (q145) cannot express: per event, activity of
    // the SAME user in the preceding 15 minutes (inclusive), frame
    // bounds in milliseconds. One hash exchange by user; frame state is
    // a sliding buffer bounded by the horizon, not the partition.
    "q149_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_ms")
        .rangeBetween(-900000L, 0L)
      eventsWithMs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          floor(col("value") * 1000).cast("long").as("mv"))
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          count(lit(1)).over(w).as("n_15m"),
          sum("mv").over(w).as("sum_mv_15m"))
    }),

    // ANN QUALITY evaluation — recall@5 of each index against the
    // brute-force truth (q26), per query: the acceptance report that
    // decides whether an index's parameters are good enough to replace
    // the exact scan at 100 TB. Four arms: the single-probe baselines
    // (lsh = q27's 4×6-bit tables, ivf = q35's md5-sampled 4/16-probe)
    // next to the PRODUCTION configurations (lsh_mp = 16×8-bit
    // multi-probe Hamming ≤ 2; ivf_km = Lloyd-refined centroids,
    // store-2 spill, 10/16 probe). Each row carries its arm's MEAN
    // recall and `gate_ok` = mean ≥ 0.9 — TRUE for both production
    // arms on this near-orthogonal fixture (the ANN worst case),
    // deliberately FALSE for the baselines: the report is exactly the
    // evidence for retiring them. Both sides are the engine's own
    // deterministic operators, so even the recall of an approximation
    // is hash-gated; floor-ppm integers keep the ratios exact. Shape:
    // bounded top-k results (query side broadcast in all), one
    // equi-join on (query, neighbor) per arm.
    "q147_ann_recall" -> ((s, dir) => {
      import graft.llm.{KMeans, Similarity}
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val pred = col("vec_id") < 10
      val truth = Similarity.bruteForceTopK(emb, pred, 5)
        .select(col("query_id"), col("neighbor_id"))
        .persist() // read by all four index arms; callers clearCache after
      // each arm reports recall AND its pre-rerank candidate-set size —
      // recall alone hides the scan cost (a full-scan "index" has
      // perfect recall); the pair is the acceptance tradeoff
      def recallOf(name: String, res: DataFrame, cand: DataFrame): DataFrame =
        truth.join(
          res.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .join(cand.groupBy("query_id").agg(count(lit(1)).as("nc")),
            Seq("query_id"), "left")
          .select(lit(name).as("idx"), col("query_id"), col("n_true"),
            col("n_hit"),
            floor(lit(1000000.0) * col("n_hit") /
              greatest(col("n_true"), lit(1L))).cast("long").as("recall_ppm"),
            coalesce(col("nc"), lit(0L)).as("n_cand"))
      val seedCents = Similarity.centroidSeq(emb, Similarity.IvfCells)
      val kmCents = KMeans.fitCentroids(emb,
        Similarity.IvfKmeansCells, Similarity.IvfKmeansIters)
      val arms =
        recallOf("lsh", Similarity.lshTopK(emb, pred, 5),
            Similarity.lshCandidatePairs(emb, pred))
          .unionByName(recallOf("ivf",
            Similarity.ivfTopKWith(emb, seedCents, pred, 5, Similarity.IvfProbe),
            Similarity.ivfCandidatePairs(emb, seedCents, pred, Similarity.IvfProbe)))
          .unionByName(recallOf("lsh_mp",
            Similarity.multiProbeLshTopK(emb, pred, 5),
            Similarity.multiProbeCandidatePairs(emb, pred)))
          .unionByName(recallOf("ivf_km",
            Similarity.ivfTopKWith(emb, kmCents, pred, 5,
              Similarity.IvfKmeansProbe, Similarity.IvfKmeansStore),
            Similarity.ivfCandidatePairs(emb, kmCents, pred,
              Similarity.IvfKmeansProbe, Similarity.IvfKmeansStore)))
      // per-arm mean over the bounded query set (exact: the ppm sum is
      // < 2^53, count ≤ 10 — the double division is the same IEEE op in
      // the oracle)
      arms.withColumn("mean_recall_ppm",
          floor(avg(col("recall_ppm")).over(Window.partitionBy("idx")))
            .cast("long"))
        .withColumn("gate_ok", col("mean_recall_ppm") >= 900000L)
    }),

    // ANN SELECTIVITY evaluation — q147's complement. q147 proves the
    // production arms RECALL on the near-orthogonal worst case (where
    // they honestly scan ~88% of the corpus: no index can prune
    // structureless data); q161 proves the same machinery PRUNES when
    // the data has structure. The planted-cluster fixture (10 tight
    // clusters derived deterministically from the corpus itself) is
    // indexed at the SELECTIVE parameters a deployment would tune to
    // clustered data (IVF probe 2/store 1; single-probe 16×8 integer
    // LSH), and each arm is gated BOTH ways: mean recall@5 ≥ 0.9 AND
    // mean candidate volume ≤ 20% of the corpus. Measured: IVF
    // 0.94–0.96 recall at 12–16% scanned, LSH 1.0 at 16–18% — TRUE
    // gates at every sf, hash-checked like q147.
    "q161_ann_selectivity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (cemb, truth, selArms) = selFixtureArms(s, dir, 5)
      def armOf(name: String, res: DataFrame, cand: DataFrame): DataFrame =
        truth.join(
          res.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .join(cand.groupBy("query_id").agg(count(lit(1)).as("nc")),
            Seq("query_id"), "left")
          .select(lit(name).as("idx"), col("query_id"), col("n_true"),
            col("n_hit"),
            floor(lit(1000000.0) * col("n_hit") /
              greatest(col("n_true"), lit(1L))).cast("long").as("recall_ppm"),
            coalesce(col("nc"), lit(0L)).as("n_cand"))
      val arms = selArms.map { case (name, res, cand) => armOf(name, res, cand) }
        .reduce(_ unionByName _)
      val corpusN = cemb.agg(count(lit(1)).cast("long").as("corpus_n"))
      arms.crossJoin(broadcast(corpusN)) // broadcast scalar, not cartesian
        .withColumn("mean_recall_ppm",
          floor(avg(col("recall_ppm")).over(Window.partitionBy("idx")))
            .cast("long"))
        .withColumn("mean_cand_ppm",
          floor(lit(1000000.0) *
            avg(col("n_cand")).over(Window.partitionBy("idx")) /
            col("corpus_n")).cast("long"))
        .withColumn("gate_recall", col("mean_recall_ppm") >= 900000L)
        .withColumn("gate_prune", col("mean_cand_ppm") <= 200000L)
        .withColumn("gate_ok", col("gate_recall") && col("gate_prune"))
    }),

    // Retrieval quality metrics — the standard IR yardsticks (MRR,
    // nDCG@10) for the two selective index arms against the exact
    // top-10 truth on the clustered fixture, completing q147 (recall)
    // and q161 (selectivity) with rank-aware quality. Kept hash-exact:
    // reciprocal rank is floor(1e6/first_rel_rank); DCG folds
    // 1/ln(rank+1) in rank order (any log base cancels in the
    // DCG/IDCG ratio, and ln is the base both engines compute
    // bit-identically — the q55/q89/q91 precedent); per-query nDCG
    // lands as a floor-ppm INTEGER so the per-arm means average exact
    // integers, order-independent.
    "q165_retrieval_metrics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 10
      val (_, truth, selArms) = selFixtureArms(s, dir, k)
      val nt = truth.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
      def metricsOf(name: String, res: DataFrame): DataFrame =
        res.select(col("query_id"), col("neighbor_id"), col("rank"))
          .join(truth.withColumn("rel", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .withColumn("rel", coalesce(col("rel"), lit(0L)))
          .groupBy("query_id")
          .agg(sum(col("rel")).as("n_rel"),
            min(when(col("rel") === 1L, col("rank"))).as("first_rel_rank"),
            aggregate(sort_array(collect_list(struct(col("rank"), col("rel")))),
              lit(0.0), (a, x) => a + when(x.getField("rel") === 1L,
                lit(1.0) / log(x.getField("rank").cast("double") + 1.0))
                .otherwise(lit(0.0))).as("dcg"))
          .join(nt, Seq("query_id"))
          .withColumn("idcg",
            aggregate(sequence(lit(1L), least(lit(k.toLong), col("n_truth"))),
              lit(0.0), (a, i) => a + lit(1.0) / log(i.cast("double") + 1.0)))
          .select(lit(name).as("idx"), col("query_id"), col("n_rel"),
            col("first_rel_rank"),
            coalesce(floor(lit(1000000.0) / col("first_rel_rank"))
              .cast("long"), lit(0L)).as("rr_ppm"),
            floor(lit(1000000.0) * col("dcg") / col("idcg")).cast("long")
              .as("ndcg_ppm"))
      val arms = selArms.map { case (name, res, _) => metricsOf(name, res) }
        .reduce(_ unionByName _)
      val w = Window.partitionBy("idx")
      arms
        .withColumn("mean_rr_ppm", floor(avg(col("rr_ppm")).over(w)).cast("long"))
        .withColumn("mean_ndcg_ppm", floor(avg(col("ndcg_ppm")).over(w)).cast("long"))
    }),

    // DSIR importance resampling (Xie et al. '23): select k=100 docs
    // from the raw corpus with P ∝ the hashed-n-gram importance weight
    // toward the English subset as the target distribution — the
    // label-free quality-selection knob between q80's declared mixture
    // and a trained classifier. Deterministic end-to-end (md5 Gumbel
    // keys, bucket-sorted folds), so the SELECTED SET itself
    // hash-gates; gate_enriched asserts the selection actually moved
    // the corpus toward the target (selected target fraction > raw
    // target fraction).
    "q166_dsir_select" -> ((s, dir) => {
      import graft.llm.Dsir
      val docs = Tables.documents(s, dir)
      val scored = Dsir.score(docs, col("doc_id"), col("text"),
        col("lang") === "en")
      // 100 rows feeding two consumers; callers clearCache after
      val sel = Dsir.resample(scored, k = 100).persist()
      val selFrac = sel.agg(floor(lit(1000000.0) *
        avg(col("is_target").cast("int"))).cast("long").as("sel_t_ppm"))
      val rawFrac = scored.agg(floor(lit(1000000.0) *
        avg(col("is_target").cast("int"))).cast("long").as("raw_t_ppm"))
      sel
        .crossJoin(broadcast(selFrac)) // broadcast scalars, not cartesians
        .crossJoin(broadcast(rawFrac))
        .select(col("doc_id"), col("is_target"), col("n_feats"),
          floor(lit(1000000.0) * col("log_weight")).cast("long").as("lw_ppm"),
          col("rank"), col("sel_t_ppm"), col("raw_t_ppm"),
          (col("sel_t_ppm") > col("raw_t_ppm")).as("gate_enriched"))
    }),

    // Semantic decontamination: q50's n-gram check catches verbatim
    // benchmark leakage; this catches the PARAPHRASED leak — training
    // vectors within cosine 0.4 of any test-split vector, found with
    // the q79 SemDeDup machinery run ACROSS the train/eval boundary
    // only (train never self-joins; the benchmark-sized eval side
    // broadcasts its bucket keys and vectors).
    "q167_semantic_decontamination" -> ((s, dir) => {
      import graft.llm.{Decontamination, Splits}
      val vecs = Tables.embeddings(s, dir)
      val train = vecs.filter(Splits.split(col("vec_id")) === "train")
      val evalSet = vecs.filter(Splits.split(col("vec_id")) === "test")
      Decontamination.semanticReport(train, evalSet, tau = 0.4)
    }),

    // Blocklist scanning — the curation pass a 10k-phrase blocklist
    // needs: ONE Aho–Corasick walk per document (native ac_scan
    // expression) finds every blocklisted phrase whatever the pattern
    // count, where the naive plans are P contains() scans per doc or a
    // backtracking mega-regex. Case-insensitive by ASCII fold on both
    // sides; n_occ counts ALL ending positions (overlaps included),
    // which the oracle mirrors with a per-pattern position scan.
    "q180_blocklist_scan" -> ((s, dir) => {
      val patCol = array(BlocklistPatterns.map(lit): _*)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          call_function("ac_scan", coalesce(col("text"), lit("")), patCol)
            .as("r"))
        .select(col("doc_id"),
          array_join(col("r.hits"), "|").as("hits"),
          col("r.n_occ").as("n_occ"),
          size(col("r.hits")).cast("long").as("n_patterns"))
    }),

    // DoReMi-style learned domain weights — multiplicative-weights
    // ascent on per-domain EXCESS cross-entropy under the corpus's own
    // bigram LM: hard domains upweight, the Group-DRO update DoReMi
    // instantiates, with q80's declared-weight sampler as the
    // downstream consumer. One corpus scoring pass; 8 exact-Long
    // update rounds over the domains-bounded table (the q176 Markov
    // discipline), so every ppm hash-gates against the oracle's
    // unrolled replay.
    "q184_doremi_mixture" -> ((s, dir) => {
      import graft.llm.Mixture
      Mixture.doremiWeights(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("source"))
    }),

    // Kneser–Ney bigram cross-entropy — the KenLM-grade smoothing the
    // CCNet family actually filters with, next to q91's add-k arm:
    // backoff mass goes to the CONTINUATION unigram (distinct-history
    // count), not a uniform 1/V. Every KN statistic is a one-more
    // reduction of the persisted vocab²-bounded bigram-type table —
    // zero extra corpus passes; same bigram-sorted per-doc fold.
    "q185_kneser_ney" -> ((s, dir) => {
      import graft.llm.BigramLm
      BigramLm.scoreKneserNey(Tables.documents(s, dir), col("doc_id"),
        col("text"))
    }),

    // Data-skipping scan — file-level min/max stats prune an
    // UNPARTITIONED layout before the scan (the Delta/Iceberg pruning
    // layer): orders re-clustered on o_orderdate (range layout, the
    // q95 clustering half), a one-pass per-file stats index, and a
    // 3-month predicate that reads only the files whose [min, max]
    // intersects it. gate_pruned proves files were actually skipped;
    // the hash gate against the oracle's full-table filter proves the
    // pruning lost nothing (the row filter is re-applied after the
    // pruned read — file stats are necessary, not sufficient).
    "q183_skipping_scan" -> ((s, dir) => {
      import graft.sources.SkippingIndex
      val base = s"$dir/orders.parquet"
      val tag = Integer.toHexString(base.hashCode)
      val tmp = System.getProperty("java.io.tmpdir")
      val layout = new java.io.File(tmp, s"graft_skip_layout_$tag").toString
      val idx = new java.io.File(tmp, s"graft_skip_idx_$tag").toString
      ParquetSchema.read(s, base).repartitionByRange(8, col("o_orderdate"))
        .write.mode("overwrite").parquet(layout)
      SkippingIndex.build(s, layout, Seq("o_orderdate"), idx)
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

    // FK join elimination — the optimizer drops a declared-constraint
    // dimension join the query never consumes: orders⋈customer on the
    // validated o_custkey→c_custkey FK, projecting fact columns (plus
    // the key itself, rewritten to the fact's fk), aggregates with NO
    // customer scan in the plan. gate_join_free is the plan-level
    // proof; the oracle runs the JOINED form, so the hash gate is the
    // semantics-preservation proof.
    "q182_join_elimination" -> ((s, dir) => {
      import graft.plans.JoinElimination
      JoinElimination.register(s, s"$dir/orders.parquet", "o_custkey",
        s"$dir/customer.parquet", "c_custkey")
      val o = ParquetSchema.read(s, s"$dir/orders.parquet")
      val c = ParquetSchema.read(s, s"$dir/customer.parquet")
      val out = o.join(c, o("o_custkey") === c("c_custkey"))
        .select(o("o_orderpriority"), c("c_custkey"),
          round(o("o_totalprice") * 100).cast("long").as("price_cents"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          sum(col("price_cents")).as("sum_price_cents"))
      out.withColumn("gate_join_free", lit(JoinElimination.joinFree(out)))
    }),

    // Posting-list compression — the STORAGE face of q102's inverted
    // index: per-term sorted doc-id lists delta+LEB128-encoded by the
    // native varint_pack (Lucene's vInt layout), decode verified
    // in-plan. packed_bytes hash-gates against the oracle's per-delta
    // byte-width replay; roundtrip_ok is the in-engine decode==input
    // gate (all-true, q93 style). Both codec sites are per-row
    // projections in codegen — the index write/read path costs no
    // shuffle beyond the posting build itself.
    "q181_postings_varint" -> ((s, dir) => {
      import graft.llm.InvertedIndex
      val lists = InvertedIndex.postings(Tables.documents(s, dir),
        col("doc_id"), col("text"), minDf = 3, maxDf = 400)
        .groupBy(col("term"))
        .agg(sort_array(collect_list(col("doc_id").cast("long")))
          .as("postings"))
      val packed = call_function("varint_pack", col("postings"))
      lists.select(col("term"),
          size(col("postings")).cast("long").as("n_docs"),
          (size(col("postings")) * 8L).cast("long").as("raw_bytes"),
          length(packed).cast("long").as("packed_bytes"),
          (call_function("varint_unpack", packed) === col("postings"))
            .as("roundtrip_ok"))
    }),

    // Unigram-LM segmentation of the corpus under the checked-in piece
    // table (q178's artifact): per-word Viterbi decode as a native
    // codegen projection — zero shuffle beyond the scan. The DuckDB
    // oracle replays the exact DP (position ascending, length
    // ascending, strict improvement) in list_reduce folds, so the
    // piece stream hash-gates piece for piece. The input unions the
    // SUPPLEMENTARY-PLANE fixture row (round-10 verdict #8): DuckDB's
    // substr/len are code-point native, so the hash gate now pins the
    // engine's code-point grid — a UTF-16 code-unit iterator would
    // split each astral char into two garbage pieces and hash-fail.
    "q179_unigram_encode" -> ((s, dir) => {
      import s.implicits._
      val pieces = call_function("unigram_encode", col("text"))
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(Seq((AstralDocId, AstralText)).toDF("doc_id", "text"))
        .select(col("doc_id"),
          coalesce(size(pieces).cast("long"), lit(0L)).as("n_pieces"),
          coalesce(size(filter(pieces, p => p === "<unk>")).cast("long"),
            lit(0L)).as("n_unk"),
          coalesce(array_join(pieces, ","), lit("")).as("pieces_str"))
    }),

    // Unigram-LM tokenizer training (SentencePiece's model, the BPE
    // alternative): Viterbi-EM over the bounded word-frequency table,
    // exact integer counts throughout. Provenance gate (the q128
    // discipline): re-training on the vocab's own declared corpus
    // (sf0.001, pinned — NOT the benchmark dir) must reproduce the
    // checked-in piece table bit-for-bit.
    "q178_unigram_train" -> ((s, _) => {
      import graft.llm.UnigramLm
      UnigramLm.train(
        Tables.documents(s, "/root/testdata/sf0.001"), col("text"))
    }),

    // WordPiece segmentation (BERT's tokenizer — greedy longest-match-
    // first, ## continuations, all-or-nothing [UNK]) via the native
    // wordpiece_encode codegen expression: per-row projection, zero
    // shuffle. The oracle replays the greedy matcher as a recursive
    // CTE advancing (pos, pieces) per word — each step takes the
    // LONGEST vocab member at pos, exactly the tie-free scan the
    // encoder runs.
    "q186_wordpiece_encode" -> ((s, dir) => {
      import s.implicits._
      val pieces = call_function("wordpiece_encode", col("text"))
      // astral fixture row unioned in — the q179 discipline: the
      // greedy matcher's position arithmetic is hash-gated against
      // DuckDB's code-point-native substr/len
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .unionByName(Seq((AstralDocId, AstralText)).toDF("doc_id", "text"))
        .select(col("doc_id"),
          coalesce(size(pieces).cast("long"), lit(0L)).as("n_pieces"),
          coalesce(size(filter(pieces, p => p === "[UNK]")).cast("long"),
            lit(0L)).as("n_unk"),
          coalesce(array_join(pieces, ","), lit("")).as("pieces_str"))
    }),

    // WordPiece training provenance (the q128/q178 discipline):
    // re-training on the vocab's own declared corpus (sf0.001,
    // pinned) must reproduce the checked-in table bit-for-bit —
    // likelihood-scored merges with exact cross-multiplied
    // comparisons, so the whole table hash-gates.
    "q187_wordpiece_train" -> ((s, _) => {
      import graft.llm.WordPiece
      WordPiece.trainFromCorpus(
        Tables.documents(s, "/root/testdata/sf0.001"), col("text"))
    }),

    // Semi-supervised label propagation over the near-dup graph (q20's
    // memoized verified pairs): a deterministic md5 30% of docs carry a
    // trusted seed label (source class), 4 synchronous integer-vote
    // rounds spread it to near-duplicates — dup-of-known-spam IS spam.
    // Ties to the smallest label, seeds clamped, no labeled neighbor
    // keeps the previous state; every vote an exact Long, so the full
    // labeling hash-gates against the oracle's unrolled 4-round replay.
    "q188_label_prop" -> ((s, dir) => {
      import graft.llm.{LabelProp, Splits}
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(Splits.md5Bucket(col("doc_id"), 10) < 3,
          when(col("source").isin("src0", "src1", "src2"), 1).otherwise(0))
          .as("seed"))
      LabelProp.propagate(seeded, col("doc_id"), col("seed"),
        docDupPairs(s, dir, 0.8), col("doc_a"), col("doc_b"), rounds = 4)
        .select(col("id").as("doc_id"), col("seed_label"), col("label"))
    }),

    // Per-node triangle counts over q190's part co-purchase graph
    // (parts sharing >= 2 orders — the same sparse graph the k-core
    // peels, so the structural family reads one fixture). Degree
    // orientation keeps the wedge volume O(m^1.5) — the hub-proof form
    // that survives a celebrity node at 100 TB; the oracle lists each
    // triangle x<y<z once via its three canonical edges. (The dense
    // supplier co-occurrence graph is deliberately NOT the fixture:
    // at sf0.1 it is near-complete — C(1000,3)/6 ≈ 1.7e8 triangles —
    // a throughput stress with no structure to find.)
    "q189_triangles" -> ((s, dir) => {
      import graft.operators.Triangles
      Triangles.countPerNode(copurchasePairs(s, dir), col("pu"), col("pv"))
    }),

    // k-core of the part co-purchase graph (parts sharing >= 2 orders;
    // k = 3): density peeling separates genuinely dense communities
    // from stars/chains — at sf0.01 the peel cascades ~10 waves before
    // the 935-node core stabilizes, so the fixpoint loop (and the
    // oracle's bounded unrolled replay, gate column `converged`) is
    // exercised for real, not just one trivial round.
    "q190_kcore" -> ((s, dir) => {
      import graft.operators.KCore
      KCore.subgraph(copurchasePairs(s, dir), col("pu"), col("pv"), k = 3)
    }),

    // Bradley–Terry strengths from pairwise judgments (the
    // reward-model / leaderboard aggregation): duels are consecutive
    // line items inside an order — the higher-quantity supplier "wins"
    // (ties and self-duels abstain). 8 integer-ppm MM rounds; the
    // oracle unrolls the identical Long arithmetic, so strengths,
    // wins and game counts all hash-gate.
    "q191_bradley_terry" -> ((s, dir) => {
      import graft.llm.BradleyTerry
      BradleyTerry.fit(supplierDuels(s, dir), col("win"), col("lose"),
        rounds = 8)
    }),

    // Exact per-split AUC of the q174 quality classifier — the metric
    // a threshold gets chosen by before the filter gates 100 TB.
    // Mann–Whitney with average-rank ties, doubled ranks keep the
    // half-integers in Longs; one window sort per split, zero doubles.
    "q192_classifier_auc" -> ((s, dir) => {
      import graft.llm.Evaluation
      Evaluation.aucByGroup(nbScored(s, dir),
        col("split"), col("score_ppm"), col("curated"))
    }),

    // Decile lift/gains table over the same ranking: per split, how
    // much of the positive class the top-k% of scores captures, and
    // the decile's lift over base rate — the table a curation budget
    // ("keep the top 30%") is actually read off.
    "q193_lift_table" -> ((s, dir) => {
      import graft.llm.Evaluation
      Evaluation.liftTable(nbScored(s, dir),
        col("split"), col("score_ppm"), col("curated"))
    }),

    // Rank-biased overlap between q163's two retrieval arms — the
    // drift metric for "did the scorer / index rebuild move the
    // results?": top-weighted (rank-1 agreement counts ~15× rank-10),
    // exact-rational at p = 0.9, depth 10, normalized so identical
    // top-10s score exactly 1e6 ppm. One equi-join + integer groupBy.
    "q194_rank_drift_rbo" -> ((s, dir) => {
      import graft.llm.{Evaluation, Retrieval}
      Evaluation.rbo10(
        Retrieval.lexicalArm(Tables.documents(s, dir), col("doc_id") < 10),
        Retrieval.vectorArm(Tables.embeddings(s, dir), col("vec_id") < 10))
    }),

    // Kaplan–Meier session-length survival: how long do sessions last,
    // with each user's chronologically last session right-censored
    // (the observation window may have cut it). Duration in whole
    // minutes; the curve folds on a 1e6 integer grid step by step, so
    // the life table hash-gates against a linear recursive-CTE replay.
    "q195_session_survival" -> ((s, dir) => {
      import graft.operators.{Sessionization, Survival}
      import org.apache.spark.sql.expressions.Window
      val sess = Sessionization.sessions(Sessionization.sessionize(
        eventsWithMs(s, dir), col("user_id"), col("ts_ms"),
        tieBreakers = Seq(col("event_id")), idAlgo = "md5"))
      val obs = sess
        .withColumn("max_end",
          max("session_end_ms").over(Window.partitionBy("user_id")))
        .select(
          expr("(session_end_ms - session_start_ms) div 60000L").as("dur"),
          (col("session_end_ms") =!= col("max_end")).as("ended"))
      Survival.kaplanMeier(obs, col("dur"), col("ended"))
    }),

    // Market-basket lift over part co-purchases — the statistical
    // complement of q190's structural graph: raw co-occurrence
    // confounds popularity with affinity; lift_ppm = 1e6·c_ij·N /
    // (c_i·c_j) is exact integer association. Top-3 partners per part
    // among pairs sharing >= 2 orders, ranked on the ppm grid with id
    // tie-break.
    "q196_basket_lift" -> ((s, dir) => {
      import graft.operators.Association
      Association.liftPairs(Tables.lineitem(s, dir),
        col("l_orderkey"), col("l_partkey"), minCo = 2, topK = 3)
    }),

    // Per-event-type trend + seasonal-naive backtest over the daily
    // event counts: OLS slope as a ratio of exact Long moment sums,
    // MAE of the y[d-7] forecast over exactly-7-day-lagged pairs —
    // the trend complement of q105's spike detector and q143's
    // distribution monitor, all integral ppm.
    "q197_trend_backtest" -> ((s, dir) => {
      import graft.operators.Trend
      Trend.dailyTrendBacktest(Tables.events(s, dir),
        col("event_type"), expr("unix_millis(ts) div 86400000L"))
    }),

    // word2vec-style negative-sampling table: 1000 stratified CDF
    // probes over the count^(3/4)-smoothed unigram distribution —
    // weights as the exact nested radical floor(sqrt(floor(sqrt(n^3)))),
    // the CDF a two-phase prefix sum (no corpus-sized single-partition
    // window), the probe lookup the as-of composition. Zero RNG.
    "q198_negative_sampling" -> ((s, dir) => {
      import graft.llm.NegativeSampling
      NegativeSampling.sampleTable(Tables.documents(s, dir),
        col("text"), k = 1000)
    }),

    // Full coreness over the same co-purchase graph (q189's triangles,
    // q190's k-core, one fixture): the h-index iteration converges to
    // every node's core number at once — 21 rounds at sf0.001, 10 at
    // sf0.01 — so the fixpoint loop is exercised hard; `converged`
    // gates the oracle's 24-round unrolled replay.
    "q199_coreness" -> ((s, dir) => {
      import graft.operators.KCore
      KCore.coreness(copurchasePairs(s, dir), col("pu"), col("pv"))
    }),

    // Materialized-summary rewrite, oracle-proven end to end: a
    // summary over (l_returnflag, l_linestatus) materializes, and the
    // SAME declarative aggregate against the BASE table silently
    // answers from it — gate_rewritten asserts the optimized plan
    // scans ONLY the summary, while the DuckDB oracle computes from
    // the base, so the hash gate IS the exactness proof. Measures are
    // exact longs (sum reassociation is only sound in exact
    // arithmetic); the dim-only filter rides onto the summary.
    "q177_summary_rewrite" -> ((s, dir) => {
      import graft.plans.SummaryRewrite
      val base = s"$dir/lineitem.parquet"
      val qtyL = round(col("l_quantity")).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      // per-application, per-base location: bench/verify re-runs
      // overwrite in place; a second JVM on the same sf dir gets its own
      val sumDir = appScratch(s,
        "summary_" + Integer.toHexString(base.hashCode))
      SummaryRewrite.materialize(s, base, sumDir,
        Seq("l_returnflag", "l_linestatus"),
        Seq(qtyL -> "s_qty", pc -> "s_price"))
      val out = ParquetSchema.read(s, base)
        .filter(col("l_returnflag") =!= "X")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qtyL).as("sum_qty"), sum(pc).as("sum_price_cents"),
          count(lit(1)).as("n_rows"))
      out.withColumn("gate_rewritten",
        lit(SummaryRewrite.readsOnlySummaries(out)))
    }),

    // Markov removal-effect attribution — the data-driven attribution
    // model (GA4's): journeys → first-order chain over event-type
    // channels with absorbing conv/null, channel value = absorption
    // drop when its inbound transitions are removed, credit ∝ effect.
    // Corpus-sized work is one window pass + a map-combinable count;
    // the (channels+3)²-bounded chain iterates driver-side in exact
    // Longs (16 rounds), so every ppm hash-gates.
    "q176_markov_attribution" -> ((s, dir) => {
      import graft.operators.MarkovAttribution
      MarkovAttribution.removalEffects(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("event_type") === "purchase")
    }),

    // CCNet-style perplexity bucketing — per-language head/middle/tail
    // terciles under the corpus's own bigram LM, keep = head+middle.
    // The cutoffs come from the IntStats value-domain bisection
    // (log-round map-combinable passes, lang×quantile-bounded result
    // broadcast back), NOT a per-lang ntile window — an ntile over a
    // 100 TB language partition is a global corpus sort; this never
    // sorts and assigns buckets map-side.
    "q175_perplexity_buckets" -> ((s, dir) => {
      import graft.llm.PerplexityBuckets
      PerplexityBuckets.buckets(Tables.documents(s, dir), col("doc_id"),
        col("text"), col("lang"))
    }),

    // Learned quality classifier — multinomial Naive Bayes trained and
    // scored in one job (the GPT-3/LLaMA curation design: curated
    // sources positive, the rest negative, a linear model over token
    // counts keeps high scorers). The synthetic corpus shares one
    // vocabulary across sources, so the positive class carries a
    // PLANTED two-token lexical signal derived deterministically from
    // the corpus itself (the q161/q167 fixture discipline) — the gates
    // then prove real end-to-end learning: the fit must RECOVER the
    // signal from the 80% train split and separate the held-out test
    // split (mean-score separation by exact cross-multiplied integer
    // sums, accuracy ≥ 90%). Scale shape: one corpus explode, a
    // vocab-bounded count reduction broadcast back, token-sorted
    // per-doc fold (q91 discipline) so every score_ppm hash-gates.
    "q174_nb_quality_classifier" -> ((s, dir) => {
      val rep = nbScored(s, dir)
      val gates = rep.filter(col("split") === "test").agg(
        sum(when(col("curated"), col("score_ppm")).otherwise(0L)).as("sc"),
        count(when(col("curated"), 1)).as("ncur"),
        sum(when(!col("curated"), col("score_ppm")).otherwise(0L)).as("sn"),
        count(when(!col("curated"), 1)).as("nnon"),
        count(when(col("predicted") === col("curated"), 1)).as("ncorrect"),
        count(lit(1)).as("ntest"))
      rep.crossJoin(broadcast(gates))
        .select(col("doc_id"), col("split"), col("curated"),
          col("n_toks"), col("score_ppm"), col("predicted"),
          (col("sc") * col("nnon") > col("sn") * col("ncur"))
            .as("gate_separates"),
          (col("ncorrect") * lit(10L) >= col("ntest") * lit(9L))
            .as("gate_accuracy"))
    }),

    // T5-style span corruption — the denoising-objective counterpart
    // of the causal-LM assembly: fixed windows, one md5-placed span per
    // full window masked behind a numbered sentinel, (input, target)
    // pair emitted per document. Pure per-row HOF arithmetic over the
    // BPE ids — no shuffle beyond the scan.
    "q173_span_corruption" -> ((s, dir) => {
      import graft.llm.SpanCorruption
      SpanCorruption.corrupt(Tables.documents(s, dir), col("doc_id"),
        call_function("bpe_encode_ids", col("text")))
    }),

    // Incremental Gram maintenance — the q148 materialized-view
    // property, PCA-shaped: history and delta batches gram
    // INDEPENDENTLY (deliberately at different partitionings) and
    // merge by adding cells; the oracle computes the one-shot grid
    // over the undivided table, so the hash gate IS the proof that a
    // daily pipeline can maintain the covariance at O(delta + d²)
    // instead of re-scanning the corpus.
    "q172_gram_merge" -> ((s, dir) => {
      import graft.llm.{Pca, Splits}
      val emb = Tables.embeddings(s, dir)
      val isHist = Splits.md5Bucket(col("vec_id"), 100) < 80
      val hist = Pca.gramInt8(emb.filter(isHist).repartition(7, col("vec_id")))
      val delta = Pca.gramInt8(emb.filter(!isHist).repartition(3))
      Pca.mergeGrams(Seq(hist, delta))
    }),

    // Poisson bootstrap — distributed error bars for a corpus metric
    // (mean document length): every row draws a deterministic
    // Poisson(1) multiplicity per replicate from its md5 uniform, the
    // B=200 replicate means fold map-side, and the CI is a percentile
    // pick over the bounded replicate set. No RNG, so the whole CI
    // hash-gates.
    "q171_bootstrap_ci" -> ((s, dir) => {
      import graft.operators.Bootstrap
      Bootstrap.meanCi(Tables.documents(s, dir), col("doc_id"),
        length(col("text")), b = 200, lo = 5, hi = 196)
    }),

    // Bitext mining — margin-based parallel-pair extraction (the
    // CCMatrix/LASER recipe): each a-side vector's best b-side match,
    // scored by the RATIO margin against both local neighborhoods and
    // accepted only when mutual-best AND above threshold. Exact arm =
    // the acceptance baseline; at scale the same margin layer runs on
    // the ANN shortlist.
    "q170_bitext_mining" -> ((s, dir) => {
      import graft.llm.{Bitext, Splits}
      Bitext.mine(Tables.embeddings(s, dir),
        Splits.md5Bucket(col("vec_id")) < 50, k = 4,
        marginThresholdPpm = 1040000L)
    }),

    // Distributed PCA, the corpus-sized half: ONE pass folds every row
    // into the d×d second-moment grid + first moments + count over the
    // int8-quantized vectors (exact integers — the only way a Gram
    // matrix can hash-gate). Map-side combined: the exchange carries
    // the bounded grid per partition, never the corpus. The driver-side
    // eigensolve + projection continuation is spec-gated (PcaSpec).
    "q169_embedding_gram" -> ((s, dir) => {
      import graft.llm.Pca
      Pca.gramInt8(Tables.embeddings(s, dir))
    }),

    // Hard-negative mining — the contrastive-training prep step: per
    // query, the top-5 most-similar DIFFERENT-label vectors (the
    // confusable almost-positives a retriever must learn to push away)
    // plus the separability margin vs the same-label positives. One
    // fused corpus pass: queries broadcast, one exchange by query feeds
    // both the negative ranking and the positive window statistics.
    "q168_hard_negatives" -> ((s, dir) => {
      import graft.llm.Similarity
      Similarity.hardNegatives(Tables.embeddings(s, dir),
        col("vec_id") < 10, 5)
    }),

    // Heavy/light-decomposed skew join (saltedJoin's complement for a
    // non-broadcastable build side with few hot keys): the probe's
    // top-8 heaviest join keys take a BROADCAST route (only the small
    // side's heavy subset ships), everything else the normal shuffle
    // join, unioned — the key space is partitioned exactly, so the
    // oracle is simply the PLAIN inner join, and the hash gate proves
    // the decomposition drops/duplicates nothing.
    "q164_skew_split_join" -> ((s, dir) => {
      import graft.operators.Skew
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))
      Skew.splitJoin(li, p, "l_partkey")
    }),

    // Streaming drift monitor, batch semantics: per-window mean/variance
    // of value per event_type from milli-quantized INTEGER moment sums
    // (the IntStats discipline lifted into the window family — the sums
    // merge exactly across streaming triggers, so the same plan runs in
    // append mode with a watermark; StreamingSpec drives that path).
    "q143_window_moments" -> ((s, dir) => {
      import graft.streaming.StreamingWindows
      StreamingWindows.windowMoments(Tables.events(s, dir), "1 hour")
    }),

    // Drift ALARM on top of q143's moment series: each window's mean
    // against the trailing 24-window baseline — rolling sums of the
    // INTEGER moments over a bounded row frame stay exact, so the
    // 3-sigma comparison is bit-deterministic. The window function runs
    // over the AGGREGATED series (O(windows) rows, not O(events)), so
    // the per-key sort is trivial at any corpus scale; alarm is NULL
    // until a full 24-window baseline exists.
    "q145_drift_alarm" -> ((s, dir) => {
      import graft.streaming.StreamingWindows
      import org.apache.spark.sql.expressions.Window
      val m = StreamingWindows.windowMoments(Tables.events(s, dir), "1 hour")
        .select(col("window_start_ms"), col("event_type"),
          col("n_events"), col("sum_mv"), col("sum_mv2"))
      val w = Window.partitionBy("event_type").orderBy("window_start_ms")
        .rowsBetween(-24, -1)
      val d = (c: Column) => c.cast("double")
      val withBase = m.select(col("window_start_ms"), col("event_type"),
        col("n_events"), col("sum_mv"),
        count(lit(1)).over(w).as("bw"),
        sum("n_events").over(w).as("bn"),
        sum("sum_mv").over(w).as("bs"),
        sum("sum_mv2").over(w).as("bs2"))
      // only windows with a FULL 24-window baseline are judged (a NULL
      // boolean round-trips as None-vs-NaN through the driver's pandas
      // compare; warm-up windows carry no signal anyway)
      withBase.filter(col("bw") === 24)
        .select(col("window_start_ms"), col("event_type"),
          col("n_events"),
          (d(col("sum_mv")) / d(col("n_events"))).as("mean_mv"),
          (d(col("bs")) / d(col("bn"))).as("base_mean"),
          // baseline variance derived in DOUBLE space from the exact
          // longs ((Σx² − (Σx)²/n)/(n−1)) — the n·Σx² integer product
          // would overflow int64 once a 24h baseline holds ~1e5 rows of
          // milli-quantized values; doubles from identical longs stay
          // bit-deterministic across engines
          (abs(d(col("sum_mv")) / d(col("n_events")) - d(col("bs")) / d(col("bn"))) >
            lit(3.0) * sqrt(
              ((d(col("bs2")) - d(col("bs")) * d(col("bs")) / d(col("bn"))) /
                d(col("bn") - 1)) / d(col("n_events"))))
            .as("alarm"))
    }),

    // Cross-METRIC correlation — IntStats composed at the second level:
    // hourly integer sums per event_type (whole units, so the
    // second-level moment products stay in int64 at any sf), then
    // Pearson r between every type pair over the hours both emitted.
    // Tells an observability consumer which metrics co-move (a shared
    // upstream) vs which drift independently. The pair self-join runs
    // over the AGGREGATED O(hours×types) series, not events.
    "q154_metric_corr" -> ((s, dir) => {
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
      pairs.groupBy("ta", "tb")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("ta"), col("tb"), col("n").as("n_windows"),
          corrFromSums(col("n"), col("sx"), col("sy"), col("sxy"),
            col("sxx"), col("syy")).as("r"))
    }),

    // Audience-overlap report with SKETCH ALGEBRA: exact distinct-user
    // intersection per event-type pair (hash-checked) next to the HLL
    // estimate of the pair's UNION, gated by q62's bounds via
    // inclusion–exclusion — the cross-segment overlap question answered
    // at 100 TB by merging per-segment sketches instead of re-joining
    // raw users. The pair dim is O(types²) rows and broadcasts; the
    // tagged join is the only row-scale work.
    "q157_user_overlap" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .select(col("event_type").as("t"), col("user_id")).distinct()
      val types = users.select(col("t")).distinct()
      val pairDim = types.as("x").crossJoin(types.as("y"))
        .filter(col("x.t") < col("y.t"))
        .select(col("x.t").as("ta"), col("y.t").as("tb"))
      val perType = users.groupBy("t").agg(count(lit(1)).as("n"))
      val nBoth = users.as("a").join(users.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
        .agg(count(lit(1)).as("n_both"))
      // tag each user row with every pair it belongs to via TWO equi-joins
      // (t===ta ∪ t===tb) — an OR-of-equalities predicate would plan as a
      // BroadcastNestedLoopJoin evaluating O(users × pairs) predicates;
      // the union keeps both arms hash/broadcast joins on a single key.
      val approxUnion = users
        .join(broadcast(pairDim), col("t") === col("ta"))
        .unionByName(users.join(broadcast(pairDim), col("t") === col("tb")))
        .groupBy("ta", "tb")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("au"))
      val exact = pairDim
        .join(perType.select(col("t").as("ta"), col("n").as("n_a")), "ta")
        .join(perType.select(col("t").as("tb"), col("n").as("n_b")), "tb")
        .join(nBoth, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"),
          coalesce(col("n_both"), lit(0L)).as("n_both"))
      exact.join(approxUnion, Seq("ta", "tb"))
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_both"),
          (abs(col("au") - (col("n_a") + col("n_b") - col("n_both"))) <=
            greatest(lit(5.0), (col("n_a") + col("n_b") - col("n_both")) * 0.1))
            .as("union_in_bounds"))
    }),

    // MIDNIGHT-BOUNDARY sessionization parity — the oracle gate on the
    // reference's defining defect: its daily job reads ONE day partition
    // and sessionizes inside it, so a session spanning midnight is
    // silently split into two (reference
    // functions/sessionization/main.py:1314-1318 day filter + :1344
    // single-day read). This query runs BOTH semantics over one
    // deterministic fixture and reconciles them: the `session_window`
    // route (the streaming path's gap semantics — StreamingSpec proves
    // the watermarked stream emits these exact rows) against the
    // faithful day-partitioned batch replay. Event times are remapped
    // to compress each day's activity into a 2-hour band starting 23:00
    // (pure integer-ms arithmetic, oracle-identical), so a realistic
    // share of sessions straddles midnight. Per boundary-free session:
    // its day-partitioned fragment count (≥ 2 ⟺ crosses midnight) and
    // the conserved event total — all integers, hash-gated. Shape: two
    // window passes sharing one (user_id) exchange, a per-user
    // equi-join with a range residual (fragments are output-, not
    // event-, scale), no driver state.
    "q158_midnight_sessions" -> ((s, dir) => {
      import graft.streaming.StreamingSessionize
      import org.apache.spark.sql.expressions.Window
      val gapMs = 1800000L
      val dayMs = 86400000L
      val ev = midnightEvents(s, dir)
      // boundary-free sessions: the streaming route's gap semantics
      val free = StreamingSessionize.sessionWindowAgg(
        ev.select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts")))
      // faithful day-partitioned replay (the reference defect): each
      // calendar day sessionized independently; same strictly-greater
      // split rule as session_window so ONLY the boundary differs
      val wOrd = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts_ms"), col("event_id"))
      val frag = ev.withColumn("day", expr(s"ts_ms div $dayMs"))
        .withColumn("brk",
          when(col("ts_ms") - lag(col("ts_ms"), 1).over(wOrd) <= gapMs, 0L)
            .otherwise(1L))
        .withColumn("sid", sum(col("brk"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id").as("f_user"), col("day"), col("sid"))
        .agg(min(col("ts_ms")).as("fstart"), count(lit(1)).as("fn"))
      free.join(frag,
          free("user_id") === frag("f_user") &&
            frag("fstart") >= free("session_start_ms") &&
            frag("fstart") < free("session_end_ms"))
        .groupBy(col("user_id"), col("session_start_ms"),
          col("session_end_ms"), col("n_events"))
        .agg(count(lit(1)).as("n_day_fragments"),
          sum(col("fn")).as("n_fragment_events"))
        .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
          col("n_events"), col("n_day_fragments"), col("n_fragment_events"),
          expr(s"(session_start_ms div $dayMs) <> " +
            s"((session_end_ms - $gapMs) div $dayMs)").as("crosses_midnight"))
    }),

    // SESSION-HISTORY MERGE — the Delta-style keyed upsert (§2.8's
    // proper fix, composed from Upsert + the SCD2 builder) replayed as
    // a two-batch re-run with mutated sessions: the STALE history is
    // the session table daily jobs had built through Jan 6 (remapped
    // events before the Jan 7 midnight cutoff), the SOURCE is the
    // corrected recompute. Sessions that straddled the cutoff midnight
    // carry the same (user, session_start) KEY but a new end/count —
    // idempotent-append would suppress them as duplicates and keep the
    // stale row; upsert REPLACES them ('updated'); post-cutoff sessions
    // insert; the rest carry over byte-identical ('unchanged').
    // n_versions is the SCD2 validity-run count across the two batch
    // snapshots (2 ⟺ updated) — the audit trail a warehouse keeps of
    // the same merge. Hash-gating the merged rows proves merge(stale,
    // recompute) converges to the recompute exactly. Shape: key
    // equi-joins only (anti-join + union + classify), one exchange
    // family on the session key; the SCD2 pass is the one-sort window
    // build.
    "q159_session_merge" -> ((s, dir) => {
      import graft.operators.{Scd2, Upsert}
      import graft.streaming.StreamingSessionize
      val cutoffMs = 19729L * 86400000L // 2024-01-07T00:00Z
      val ev = midnightEvents(s, dir)
      def sess(df: DataFrame): DataFrame = StreamingSessionize.sessionWindowAgg(
        df.select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts")))
      val stale = sess(ev.filter(col("ts_ms") < cutoffMs))
      val full = sess(ev)
      val keys = Seq("user_id", "session_start_ms")
      val merged = Upsert.upsert(stale, full, keys)
      val staleK = stale.select(col("user_id"), col("session_start_ms"),
        col("session_end_ms").as("_old_end"), col("n_events").as("_old_n"))
      val versions = Scd2.intervals(
        stale.withColumn("_b", lit(1L)).unionByName(full.withColumn("_b", lit(2L))),
        struct(col("user_id"), col("session_start_ms")),
        struct(col("session_end_ms"), col("n_events")),
        col("_b"), col("_b"))
        .groupBy(col("key.user_id").as("user_id"),
          col("key.session_start_ms").as("session_start_ms"))
        .agg(count(lit(1)).as("n_versions"))
      merged.join(staleK, keys, "left")
        .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
          col("n_events"),
          when(col("_old_end").isNull, "inserted")
            .when(col("_old_end") =!= col("session_end_ms") ||
              col("_old_n") =!= col("n_events"), "updated")
            .otherwise("unchanged").as("action"))
        .join(versions, keys)
        .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
          col("n_events"), col("action"), col("n_versions"))
    }),

    // Hybrid retrieval — reciprocal-rank fusion of the lexical and
    // vector arms (Cormack et al. '09): each query doc retrieves by
    // its own top-3 TF-IDF keywords (multi-query BM25 — ONE corpus
    // tokenization semi-joined to the broadcast term set before any
    // exchange) and by its embedding (exact cosine top-10), fused
    // rank-only so BM25 logs and cosines never meet on one scale.
    // RRF stays EXACT: each arm contributes floor(1e6/(60+rank)) ppm —
    // an integer — so the fused score is an order-independent sum and
    // the whole report hash-gates, per-arm ranks carried (null where
    // an arm missed). The curation primitive behind retrieval-based
    // decontamination and near-dup adjudication.
    "q163_hybrid_retrieval" -> ((s, dir) => {
      import graft.llm.Retrieval
      Retrieval.hybrid(Tables.documents(s, dir), Tables.embeddings(s, dir),
        col("doc_id") < 10, col("vec_id") < 10)
    }),

    // Same entropy over the checked-in multi-line/non-ASCII fixture:
    // the sf documents carry no newlines and no astral code points, so
    // q97 alone never exercises the dotall walk or surrogate-pair
    // counting (the q60/q61 fixture-coverage pattern).
    "q114_entropy_multiline" -> ((s, _) => {
      val ce = call_function("char_entropy", col("text"))
      multilineDocs(s)
        .select(col("doc_id"), ce.as("_ce"))
        .select(col("doc_id"),
          coalesce(col("_ce.n_cp"), lit(0L)).as("n_cp"),
          round(coalesce(col("_ce.entropy"), lit(0.0)), 4).as("entropy"))
    }),

    // Fixed-iteration PageRank over the supplier -> customer shipment
    // graph (lineitem x orders): 5 damped power iterations, self-loops
    // for dangling nodes, per-node source-sorted folds so the doubles
    // are bit-stable (see operators/PageRank.scala for the scale notes).
    "q100_pagerank" -> ((s, dir) => {
      import graft.operators.PageRank
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      PageRank.ranks(edges, col("src"), col("dst"), iters = 5)
        .select(col("node"), round(col("rank"), 8).as("rank"))
    }),

    // Set-containment join (asymmetric Jaccard >= 4/5): directed
    // "a is mostly inside b" pairs — the excerpt/quotation case the
    // symmetric q21 misses. Asymmetric prefix filter: only a's rarest
    // grams probe; b indexes all grams; integer bounds; exact verify.
    "q101_containment_join" -> ((s, dir) => {
      import graft.llm.MinHashLsh
      MinHashLsh.containmentJoinFromSets(
        MinHashLsh.hashSets(Tables.documents(s, dir), col("doc_id"),
          col("text")), 4, 5)
    }),

    // Positional inverted index (flat posting rows, term-partitioned):
    // tf + 1-based sorted positions per (term, doc), df-bounded
    // [3, 400]. One narrow posexplode + one bounded (term, doc) reduce.
    // The gate serializes the positions array to a comma-joined string
    // (q16 touchpoints precedent) so the driver's pandas compare can
    // sort/hash the cell; InvertedIndex.postings itself keeps the
    // array<long> shape (q103 phrase search consumes it).
    "q102_inverted_index" -> ((s, dir) => {
      import graft.llm.InvertedIndex
      InvertedIndex.postings(Tables.documents(s, dir), col("doc_id"),
        col("text"), minDf = 3, maxDf = 400)
        .select(col("term"), col("doc_id"), col("tf"),
          array_join(transform(col("positions"), _.cast("string")), ",")
            .as("positions"))
    }),

    // Exact phrase search via positional postings: tokens filtered to
    // the phrase terms BEFORE any exchange (BM25 trick), per-slot
    // postings joined on doc, alignment as a HOF over bounded arrays.
    "q103_phrase_search" -> ((s, dir) => {
      import graft.llm.InvertedIndex
      InvertedIndex.phraseSearch(Tables.documents(s, dir), col("doc_id"),
        col("text"), Seq("table", "hash"))
    }),

    // SCD2 validity intervals from the events change stream (per-user
    // event_type runs): one exchange + one sort serves both the
    // change-lag and the interval-lead; timestamps kept at MICROsecond
    // grain so the (ts, event_id) order is identical in both engines.
    "q104_scd2_intervals" -> ((s, dir) => {
      import graft.operators.Scd2
      Scd2.intervals(Tables.events(s, dir), col("user_id"),
          col("event_type"), col("ts"), col("event_id"))
        .select(col("key").as("user_id"), col("value").as("event_type"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"))
    }),

    // Burst detection: hourly counts per event type vs the trailing
    // 6-hour baseline (mean + 2*sigma from exact integer window sums —
    // no fold-order caveat at all). Event table never windowed; the
    // windows run over the series x hour dimension table.
    "q105_burst_detect" -> ((s, dir) => {
      import graft.operators.Bursts
      // warm-up buckets (no full baseline) carry null z/is_burst by the
      // operator contract (spec-covered); the gate query drops them —
      // nullable BOOLEAN round-trips as NaN through the oracle's
      // dataframe layer and can't be value-compared
      Bursts.detect(Tables.events(s, dir), col("event_type"),
          date_trunc("hour", col("ts")), lookback = 6, k = 2.0)
        .where(col("is_burst").isNotNull)
    }),

    // Image perceptual hashes (aHash) over the REAL BMP decode path:
    // exact integer contract (cross-multiplied block averages), gated
    // against hashes the fixture generator computed from its drawing
    // formulas — the decoders never see that code.
    "q106_image_phash" -> ((s, _) => {
      import graft.multimodal.Multimodal
      Multimodal.imageHashes(s, MediaFixtures)
    }),

    // Image near-dup pairs by perceptual-hash hamming (<= 7): pigeonhole
    // segment equi-join (8 segments x 8 bits — complete at this
    // threshold), exact xor-popcount verify. Finds the retouched
    // near-duplicate, ignores the inverted and unrelated images.
    "q107_image_neardup" -> ((s, _) => {
      import graft.multimodal.Multimodal
      Multimodal.nearDupHashPairs(
        Multimodal.imageHashes(s, MediaFixtures), maxHamming = 7)
    }),

    // Audio energy hashes over the REAL WAV PCM decode path — the
    // audio-side aHash (64 window-energy bits, cross-multiplied), gated
    // against generator-computed expected hashes.
    "q108_audio_hash" -> ((s, _) => {
      import graft.multimodal.Multimodal
      Multimodal.audioHashes(s, MediaFixtures)
    }),

    // Audio near-dup pairs: same pigeonhole hamming join as q107 over
    // the energy hashes — finds the silence-edited near-duplicate,
    // rejects the different signals (hamming >= 32).
    "q109_audio_neardup" -> ((s, _) => {
      import graft.multimodal.Multimodal
      Multimodal.nearDupHashPairs(
        Multimodal.audioHashes(s, MediaFixtures), maxHamming = 7)
    }),

    // Video near-dup by shared sampled-frame fingerprints: rolling-hash
    // each 64-byte frame (unsigned bytes), df-cap hot fingerprints,
    // positional equi-join — finds the re-uploaded byte-identical
    // copies (synthetic ids 753k apart share all frames), never
    // all-pairs. Oracle recomputes hashes from the byte formula.
    "q110_video_neardup" -> ((s, _) => {
      import graft.multimodal.Multimodal
      Multimodal.sharedFrameVideoPairs(
        Multimodal.frameHashes(Multimodal.syntheticMedia(s, 1600)),
        minShared = 2)
    }),

    // Rolling 7-day distinct active users (WAU): each distinct
    // (user, day) fact explodes to its <=7 window-end days — rolling
    // COUNT DISTINCT is not a window function (distinct state doesn't
    // merge across frames); both aggregations map-combinable. Week
    // emitted as a string (q98 DATE-dtype lesson).
    "q111_rolling_wau" -> ((s, dir) => {
      import graft.operators.Cohorts
      Cohorts.rollingActiveUsers(Tables.events(s, dir), col("user_id"),
          col("ts"), windowDays = 7)
        .select(date_format(col("window_end"), "yyyy-MM-dd")
          .as("window_end"), col("active_users"))
    }),

    // Cross-modality media dedup clusters: the image + audio near-dup
    // pairs (q107/q109) feed the SAME connected-components operator the
    // text corpus uses (q37) — names keyed by md5Long (components'
    // convergence metric needs numeric labels), translated back after.
    "q112_media_dedup_clusters" -> ((s, _) => {
      import graft.llm.{DedupClusters, Splits}
      import graft.multimodal.Multimodal
      val pairs = Multimodal.nearDupHashPairs(
          Multimodal.imageHashes(s, MediaFixtures), 7)
        .unionByName(Multimodal.nearDupHashPairs(
          Multimodal.audioHashes(s, MediaFixtures), 7))
        .select(col("name_a"), col("name_b"))
      val keyed = pairs.select(
        Splits.md5Long(col("name_a")).as("doc_a"),
        Splits.md5Long(col("name_b")).as("doc_b"))
      val names = pairs.select(col("name_a").as("name"))
        .union(pairs.select(col("name_b"))).distinct()
        .withColumn("_id", Splits.md5Long(col("name")))
      DedupClusters.components(keyed)
        .join(names, col("doc_id") === col("_id"))
        .select(col("name"), col("cluster_id"))
    }),

    // Vocabulary drift between two deterministic corpus halves
    // (smoothed log-odds movers): the monitoring op for "what changed
    // between yesterday's corpus and today's". One ln per term — no
    // fold-order caveat at all; vocab-sized full-outer join.
    "q113_vocab_drift" -> ((s, dir) => {
      import graft.llm.{Drift, Splits}
      val docs = Tables.documents(s, dir)
      val half = Splits.md5Bucket(col("doc_id"), 100) < 50
      Drift.logOddsDrift(docs.filter(half), docs.filter(!half),
        col("text"), minCount = 20)
    }),

    // The SAME packing chain through the custom planner-visible operator
    // (plans/GreedyPack: custom LogicalPlan + Strategy + SparkPlan with
    // DECLARED distribution/ordering requirements — EnsureRequirements
    // places the exchange/sort only when the child lacks them, where
    // q65's mapPartitions form always pays its blind repartition).
    // Shares q65's oracle verbatim: the formulations must be
    // value-identical.
    "q122_packing_plan" -> ((s, dir) => {
      import graft.llm.{Packing, TextOps}
      Packing.packGreedyPlan(Tables.documents(s, dir), col("doc_id"),
        TextOps.nTokens(col("text")), budget = 512L, shards = 8)
    }),

    // Deterministic char-level BPE tokens under the checked-in merge
    // table (src/main/resources/graft/bpe_merges.tsv; graft.llm.Bpe pins
    // the merge loop — leftmost occurrence of the min-rank pair, one per
    // step). Native codegen expression, zero shuffle. The gate hashes
    // the FULL token stream (space-joined: BPE symbols never contain
    // whitespace, words were split on \s+) plus the count the packing /
    // chunking budgets consume; the oracle REPLAYS the identical loop as
    // a DuckDB recursive CTE over the same TSV — the engine's Scala
    // encoder never touches the oracle path.
    "q116_bpe_tokens" -> ((s, dir) => {
      val toks = call_function("bpe_encode", col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("_t"))
        .select(col("doc_id"),
          coalesce(size(col("_t")), lit(0)).cast("long").as("n_tokens"),
          coalesce(array_join(col("_t"), " "), lit("")).as("tokens_str"))
    }),

    // Deterministic spherical k-means over the embedding table (the
    // Lloyd refinement of q35's IVF coarse quantizer): md5-sample seed,
    // cosine-argmax assignment via the native top_cells pass, per-
    // (cell, dim) centroid means summed as DECIMAL(38,12) — exact and
    // order-independent, so an unbounded cluster needs no sorted fold
    // (the scalable form of the repo's bit-stable-double discipline).
    // Gate rows: (cell, dim) centroid components + integer cluster
    // stats; the oracle unrolls all 3 Lloyd rounds as chained CTEs
    // (q100 precedent).
    "q120_kmeans" -> ((s, dir) => {
      import graft.llm.KMeans
      KMeans.report(s, Tables.embeddings(s, dir))
    }),

    // Semantic-balanced downsampling (the SemDeDup/DoReMi-adjacent use
    // the clusters exist for): cap every q120 cluster at 50 vectors via
    // the q51 md5 per-mille predicate with a per-cluster rate —
    // dimension-sized counts broadcast back, the keep decision is
    // map-side, no RNG, re-runs identical. An over-cap topic shrinks,
    // small topics pass whole — corpus semantic balance by construction.
    "q121_cluster_sample" -> ((s, dir) => {
      import graft.llm.{KMeans, Splits}
      val cap = 50L
      val asn = KMeans.assign(Tables.embeddings(s, dir))
      val rates = asn.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"))
        .select(col("cell"),
          least(lit(1000L),
            floor(lit(1000.0) * cap / col("n")).cast("long")).as("pm"))
      asn.join(broadcast(rates), "cell")
        .filter(Splits.hashSample(col("vec_id"), col("pm"), salt = "km"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
    }),

    // Leakage-safe split: the held-out boundary drawn by DEDUP CLUSTER,
    // not by document — every member of a near-dup cluster hashes the
    // same split key (its cluster label), so a train doc's near-copy can
    // never land in val/test (the q43 per-doc split leaks exactly those
    // pairs; decontamination q50 only catches the eval sets you KNOW
    // about). Unclustered docs key by themselves. Scale shape: the
    // cluster map is a fraction of the corpus (only docs WITH a near
    // dup), one left join keyed on doc_id, then the same md5 bucket
    // predicate as q43 — no RNG, stable under AQE and re-runs.
    "q123_leakage_split" -> ((s, dir) => {
      import graft.llm.{DedupClusters, Splits}
      DedupClusters.components(docDupPairs(s, dir, 0.8))
        .select(col("doc_id"), col("cluster_id"))
        .join(Tables.documents(s, dir), Seq("doc_id"), "right")
        .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
        .select(col("doc_id"), col("split_key"),
          Splits.split(col("split_key")).as("split"))
    }),

    // Temperature-smoothed mixture (alpha = 0.5, the T=2 multilingual
    // sampling knob): strata keep floor(1000·sqrt(n_b/n_s)) per mille —
    // the smallest language passes whole, larger ones flatten toward
    // it. sqrt (IEEE-correctly-rounded in both engines) rather than
    // libm pow keeps the floor boundary bit-deterministic; the keep
    // predicate is the same md5 per-mille hash as q51/q80.
    "q124_temperature_mixture" -> ((s, dir) => {
      import graft.llm.Mixture
      Mixture.temperatureSample(Tables.documents(s, dir), col("doc_id"),
        col("lang"), alpha = 0.5, salt = "temp")
        .select(col("doc_id"), col("lang"))
    }),

    // Packing fill-rate report (the padding-waste metric a training
    // team actually monitors — every token of waste is a wasted FLOP):
    // per shard, sequences built, tokens packed, waste vs seqs·budget,
    // and the integer-exact fill ppm. One map-combinable aggregate over
    // the q117 chain; max(seq_no) is the sequence count because seq_no
    // is dense from 1 within a shard.
    "q129_packing_efficiency" -> ((s, dir) => {
      import graft.llm.Packing
      val budget = 256L // shared by the chain AND the waste arithmetic
      Packing.packGreedy(Tables.documents(s, dir), col("doc_id"),
        size(call_function("bpe_encode", col("text"))),
        budget = budget, shards = 8)
        .groupBy(col("shard"))
        .agg(max(col("seq_no")).as("n_seqs"),
          sum(col("n_tokens")).as("sum_tokens"))
        .select(col("shard"), col("n_seqs"), col("sum_tokens"),
          (col("n_seqs") * lit(budget) - col("sum_tokens")).as("waste_tokens"),
          floor(lit(1000000.0) * col("sum_tokens") /
            (col("n_seqs") * lit(budget))).cast("long").as("fill_ppm"))
    }),

    // PACKING-ORDER comparison — the fill-rate knob a training team
    // actually tunes, as a three-arm measured report: the q129
    // arrival-order next-fit chain, the LENGTH-SORTED next-fit chain
    // (the instructive FOIL: with only ONE open bin, decreasing order
    // packs WORSE — every bin's tail is wasted on the first medium doc
    // that overflows it), and FIRST-FIT-DECREASING with 4 bounded open
    // bins (the real fill win: short docs top up older bins' tails).
    // All three are one-exchange chained passes with O(1) state — FFD's
    // is K (id, fill) pairs — and every fill is hash-gated per shard,
    // including the FFD chain's full K-bin state machine (the oracle
    // carries the identical open-bin lists through its recursive CTE).
    // The trade FFD buys its fill with: pack order inside a sequence
    // follows placement, not doc_id (q130-style id-ordered assembly
    // keeps the arrival chain).
    "q160_packing_order" -> ((s, dir) => {
      import graft.llm.Packing
      val budget = 256L
      val docs = Tables.documents(s, dir)
      val nTok = size(call_function("bpe_encode", col("text")))
      def fillOf(packed: DataFrame, seqs: String, ppm: String): DataFrame =
        packed.groupBy(col("shard"))
          .agg(max(col("seq_no")).as(seqs), sum(col("n_tokens")).as("_st"))
          .select(col("shard"), col(seqs),
            floor(lit(1000000.0) * col("_st") / (col(seqs) * lit(budget)))
              .cast("long").as(ppm))
      fillOf(Packing.packGreedy(docs, col("doc_id"), nTok, budget, 8),
          "n_seqs_arrival", "fill_ppm_arrival")
        .join(fillOf(
          Packing.packGreedySorted(docs, col("doc_id"), nTok, budget, 8),
          "n_seqs_nfd", "fill_ppm_nfd"), "shard")
        .join(fillOf(
          Packing.packFirstFit(docs, col("doc_id"), nTok, budget, 8),
          "n_seqs_ffd", "fill_ppm_ffd"), "shard")
        .select(col("shard"), col("n_seqs_arrival"), col("fill_ppm_arrival"),
          col("n_seqs_nfd"), col("fill_ppm_nfd"),
          col("n_seqs_ffd"), col("fill_ppm_ffd"),
          (col("fill_ppm_ffd") - col("fill_ppm_arrival")).as("ffd_delta_ppm"))
    }),

    // Sequence assembly: the packed token streams themselves — what a
    // training loader actually reads. Pack order inside a sequence is
    // doc_id order (sort_array over the member structs, deterministic
    // under any agg order); the grouped state is bounded by the BUDGET,
    // not the corpus. The pack budget is the id stream's own size, so
    // the merge loop runs ONCE per document (codegen CSE; PlanSpec
    // counts the generated call sites). Gate serializes the stream
    // (driver compare can't hash array cells — q16/q102 precedent).
    "q130_sequence_assembly" -> ((s, dir) => {
      import graft.llm.Packing
      val docs = Tables.documents(s, dir)
      Packing.assembleSequences(docs, col("doc_id"),
        call_function("bpe_encode_ids", col("text")),
        budget = 256L, shards = 8)
        .select(col("shard"), col("seq_no"), col("n_docs"),
          size(col("tokens")).cast("long").as("n_tokens"),
          array_join(transform(col("tokens"), _.cast("string")), ",")
            .as("tokens_str"))
    }),

    // q160's measured winner HARVESTED: the same assembly as q130 but
    // over the bounded-K first-fit-decreasing placement — the packed
    // streams a training loader reads at FFD's fill rate (fewer
    // padding FLOPs per epoch). In-bin order is PLACEMENT order, so
    // members assemble by offset (strictly increasing per placement),
    // not doc_id; the oracle replays the identical K-bin state machine
    // and string_aggs by placement position. Same one-pass cost shape
    // as q130 (single shard exchange, budget-bounded grouped collect).
    "q162_ffd_assembly" -> ((s, dir) => {
      import graft.llm.Packing
      val docs = Tables.documents(s, dir)
      Packing.assembleSequencesFirstFit(docs, col("doc_id"),
        call_function("bpe_encode_ids", col("text")),
        budget = 256L, shards = 8)
        .select(col("shard"), col("seq_no"), col("n_docs"),
          size(col("tokens")).cast("long").as("n_tokens"),
          array_join(transform(col("tokens"), _.cast("string")), ",")
            .as("tokens_str"))
    }),

    // Tokenizer provenance: distributed re-training on the vocab's own
    // declared training corpus (the sf0.001 documents fixture — pinned,
    // NOT the benchmark dir) must reproduce the checked-in merge table
    // bit-for-bit. The corpus-sized work is one map-combinable word
    // count; the merge loop runs over the bounded word-frequency TABLE
    // (top-maxWords via TakeOrderedAndProject, collected like the IVF
    // codebook — model-artifact-sized, not corpus-sized).
    "q128_bpe_train" -> ((s, dir) => {
      import graft.llm.Bpe
      Bpe.trainFromCorpus(
        Tables.documents(s, "/root/testdata/sf0.001"), col("text"),
        numMerges = graft.tools.MakeBpeVocab.NumMerges)
    }),

    // Deterministic epoch ordering (the training-order shuffle):
    // shard + dense within-shard position, all derived from the salted
    // md5 of the id — reproducible on any cluster size and under AQE
    // re-plans (orderBy(rand()) is neither), a new salt per epoch gives
    // an independent permutation. One hash exchange + a within-shard
    // sort; `shards` bounds the per-group window cost (task-sized
    // groups at 100 TB means ~100k shards, the q65 packing knob).
    "q126_epoch_order" -> ((s, dir) => {
      import graft.llm.Shuffle
      Shuffle.epochOrder(Tables.documents(s, dir), col("doc_id"),
        shards = 16, salt = "ep1")
        .select(col("id").as("doc_id"), col("shard"), col("pos"))
    }),

    // Tokenizer OOV-rate governance report: per-language unk share
    // under the checked-in vocab — the "is the tokenizer fit for this
    // corpus slice" monitor (a rising OOV ppm on a new language or a
    // schema change is the first sign token budgets have gone wrong).
    // Per-row projections then one map-combinable groupBy; the rate is
    // integer-exact ppm (floor over exact integer sums), no rounding
    // caveat.
    "q127_oov_rate" -> ((s, dir) => {
      val ids = call_function("bpe_encode_ids", col("text"))
      Tables.documents(s, dir)
        .select(col("lang"), ids.as("_i"))
        // coalesce totalizes NULL texts to 0 tokens (the q116/q119
        // convention, matching the oracle's COALESCE(len(b.toks), 0))
        .select(col("lang"),
          coalesce(size(col("_i")), lit(0)).cast("long").as("_n"),
          coalesce(size(filter(col("_i"), _ === 0)), lit(0))
            .cast("long").as("_u"))
        .groupBy(col("lang"))
        .agg(sum(col("_n")).as("n_tokens"), sum(col("_u")).as("n_unk"))
        .select(col("lang"), col("n_tokens"), col("n_unk"),
          floor(lit(1000000.0) * col("n_unk") /
            greatest(col("n_tokens"), lit(1L))).cast("long").as("oov_ppm"))
    }),

    // Tokenizer round trip: decode(encode_ids(text)) — the manifest
    // inspection path (models ship id streams; debugging one means
    // turning it back into text). Pinned contract: concatenation of the
    // ids' token strings = the text with whitespace runs removed and
    // OOV code points as <unk>. Two chained per-row projections, zero
    // shuffle; the oracle replays the merge loop and substitutes <unk>
    // for tokens absent from the vocab TSV.
    "q125_bpe_roundtrip" -> ((s, dir) => {
      val ids = call_function("bpe_encode_ids", col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          coalesce(call_function("bpe_decode_ids", ids), lit(""))
            .as("decoded"))
    }),

    // Token-ID streams under the checked-in vocab (id 0 = unk, then
    // sorted base symbols, then merge outputs by rank): the artifact a
    // sequence assembler stores and packs — models consume ids, not
    // strings. Same zero-shuffle projection as q116; the oracle maps the
    // recursive-CTE tokens through the same vocab TSV.
    "q119_bpe_ids" -> ((s, dir) => {
      val ids = call_function("bpe_encode_ids", col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), ids.as("_i"))
        .select(col("doc_id"),
          coalesce(size(col("_i")), lit(0)).cast("long").as("n_tokens"),
          coalesce(array_join(transform(col("_i"), _.cast("string")), ","),
            lit("")).as("ids_str"))
    }),

    // Packing by REAL tokenizer counts (the reason q116 exists): the
    // identical sharded greedy chain as q65, budgeted by BPE tokens
    // instead of whitespace words — what a training pipeline actually
    // packs by. Same one-exchange scale shape; the token count rides the
    // scan projection.
    "q117_bpe_packing" -> ((s, dir) => {
      import graft.llm.Packing
      Packing.packGreedy(Tables.documents(s, dir), col("doc_id"),
        size(call_function("bpe_encode", col("text"))),
        budget = 256L, shards = 8)
    }),

    // ------------------------------------------------ corpus statistics pack
    // Reports built on graft.operators.IntStats: Spark's floating
    // aggregates (corr/covar/stddev) sum doubles in partition order, so
    // they are neither oracle-checkable nor run-to-run stable at scale.
    // Each query below keeps every AGGREGATE in exact integer arithmetic
    // (associative + commutative — identical under any partitioning, any
    // AQE re-plan) and spends the floating point once per OUTPUT row from
    // those sums. Sufficient statistics are O(groups) longs, map-side
    // combinable: the same scale shape as count/sum.

    // Signal-redundancy check before composing quality filters: Pearson
    // correlation between chars/tokens/lines per language. |r| near 1
    // means one signal is dead weight in a composite gate (and tells a
    // filter author which thresholds move together across languages).
    "q131_signal_corr" -> ((s, dir) => {
      import graft.llm.TextOps
      import graft.operators.IntStats._
      val d0 = Tables.documents(s, dir).select(col("lang"),
        col("n_chars").cast("long").as("x"),
        size(TextOps.lowerTokens(col("text"))).cast("long").as("y"),
        size(split(col("text"), "\n")).cast("long").as("z"))
      val m = d0.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"))
      m.select(col("lang"), col("n").as("n_docs"),
        corrFromSums(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")).as("corr_chars_tokens"),
        corrFromSums(col("n"), col("sx"), col("sz"), col("sxz"),
          col("sxx"), col("szz")).as("corr_chars_lines"),
        corrFromSums(col("n"), col("sy"), col("sz"), col("syz"),
          col("syy"), col("szz")).as("corr_tokens_lines"))
    }),

    // Token-budget calibration: OLS fit tokens ~ chars per source — the
    // bytes→tokens conversion a pipeline uses to budget tokenizer cost
    // and pre-size packing shards BEFORE running the tokenizer over
    // 100 TB. slope ≈ tokens per char; r² says how far the linear
    // estimate can be trusted per source.
    "q132_token_calibration" -> ((s, dir) => {
      import graft.llm.TextOps
      import graft.operators.IntStats._
      val d0 = Tables.documents(s, dir).select(col("source"),
        col("n_chars").cast("long").as("x"),
        size(TextOps.lowerTokens(col("text"))).cast("long").as("y"))
      val m = d0.groupBy("source").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      m.select(col("source"), col("n").as("n_docs"),
        round(slopeFromSums(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx")), 6).as("slope"),
        round(interceptFromSums(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx")), 6).as("intercept"),
        r2FromSums(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")).as("r2"))
    }),

    // Split-balance diagnostic: pointwise mutual information between lang
    // and source. pmi far from 0 marks (lang, source) cells that are
    // over/under-represented vs independence — exactly the cells a
    // mixture rebalance (q80/q124) must up/down-weight. One corpus
    // shuffle: the marginals re-aggregate the tiny joint table, not the
    // corpus, and broadcast back onto it.
    "q133_mi_lang_source" -> ((s, dir) => {
      import graft.operators.IntStats._
      val joint = Tables.documents(s, dir).select("lang", "source")
        .groupBy("lang", "source").agg(count(lit(1)).as("n_pair"))
        .persist() // O(langs×sources) rows; computed once, read 4×
      val byLang = joint.groupBy("lang").agg(sum("n_pair").as("n_lang"))
      val bySource = joint.groupBy("source").agg(sum("n_pair").as("n_source"))
      val total = joint.agg(sum("n_pair").as("n_total"))
      joint.join(broadcast(byLang), "lang")
        .join(broadcast(bySource), "source")
        .crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n_pair"), col("n_lang"),
          col("n_source"), col("n_total"),
          pmiFromCounts(col("n_pair"), col("n_lang"), col("n_source"),
            col("n_total")).as("pmi"))
    }),

    // Per-language z-score normalization of a per-doc signal — the
    // feature-scaling step before any cross-language threshold (a 300-char
    // doc is short for English, long for Chinese). Group sums broadcast
    // back onto the corpus: one exchange for the 5-row stats table, the
    // normalization itself is a narrow projection.
    "q134_zscore_norm" -> ((s, dir) => {
      import graft.operators.IntStats._
      val d0 = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("x"))
      val m = d0.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
      d0.join(broadcast(m), "lang")
        .select(col("doc_id"), col("lang"), col("x").as("n_chars"),
          zscoreFromSums(col("x"), col("n"), col("sx"), col("sxx")).as("z"))
    }),

    // WEIGHTED median — the robust center under importance weights
    // (here: doc length weighted by its token mass, the center of the
    // TOKEN distribution rather than the document distribution — what a
    // packing planner actually cares about). Spark has no weighted
    // percentile; the classic formulation is a per-group cumulative sum
    // over integer weights: first x where 2·cumw ≥ total. All integer
    // comparisons, (x, doc_id) order fully deterministic. The window
    // arm's per-language sort is a ~5-task parallelism ceiling, so the
    // 100× arm is IntStats.weightedMedianBisect — log2(range) rounds of
    // one map-combinable aggregate each, no sort, no window — and
    // because the bisection is EXACT (not a sketch), both arms are
    // hash-gated for outright equality (bisect_matches all-TRUE).
    "q156_weighted_median" -> ((s, dir) => {
      import graft.llm.TextOps
      import org.apache.spark.sql.expressions.Window
      val d0 = Tables.documents(s, dir).select(col("lang"), col("doc_id"),
        col("n_chars").cast("long").as("x"),
        size(TextOps.lowerTokens(col("text"))).cast("long").as("w"))
      val w = Window.partitionBy("lang").orderBy(col("x"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = d0.withColumn("cw", sum("w").over(w))
      val tot = d0.groupBy("lang").agg(sum("w").as("total_w"))
      val cumT = cum.join(broadcast(tot), "lang")
      // one cum frame serves both exact quantiles: smallest x with
      // denom·cumw ≥ numer·total (integer comparisons throughout)
      def exactQ(numer: Int, denom: Int, as: String) = cumT
        .filter(col("cw") * denom >= col("total_w") * numer)
        .groupBy(col("lang"), col("total_w"))
        .agg(min(col("x")).as(as))
      val exact = exactQ(1, 2, "weighted_median")
        .join(exactQ(9, 10, "weighted_p90").drop("total_w"), "lang")
      // BOTH quantiles ride one shared bisection loop (round count =
      // max, not sum; each round is one map-combinable aggregate)
      val bisect = graft.operators.IntStats
        .weightedQuantilesBisect(d0, col("lang"), col("x"), col("w"),
          Seq((1L, 2L), (9L, 10L)))
        .select(col("k").as("lang"),
          element_at(col("weighted_qs"), 1).as("bisect_median"),
          element_at(col("weighted_qs"), 2).as("bisect_p90"))
      exact.join(broadcast(bisect), "lang")
        .select(col("lang"), col("total_w"), col("weighted_median"),
          col("bisect_median"), col("weighted_p90"), col("bisect_p90"),
          (col("bisect_median") === col("weighted_median") &&
            col("bisect_p90") === col("weighted_p90")).as("bisect_matches"))
    }),

    // Robust outlier flagging: |x − median| > 2·MAD per language. Median
    // and MAD use the exact `percentile` aggregate (interpolation
    // bit-identical to DuckDB's quantile_cont, q42 precedent) — exact
    // buffers per group are fine at bounded group count; the 100 TB path
    // swaps in approx_percentile exactly as q49 gates. Integer inputs
    // make every intermediate (.5 halves) exactly representable, so the
    // 3·MAD comparison is deterministic.
    "q135_mad_outliers" -> ((s, dir) => {
      val d0 = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("x"))
      val med = d0.groupBy("lang").agg(expr("percentile(x, 0.5)").as("med"))
      val dev = d0.join(broadcast(med), "lang")
        .withColumn("dev", abs(col("x").cast("double") - col("med")))
      val mad = dev.groupBy("lang").agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "lang")
        .filter(col("dev") > col("mad") * 2.0)
        .select(col("doc_id"), col("lang"), col("x").as("n_chars"),
          col("med"), col("mad"))
    }),

    // Sequence-length bucketing for batch shaping: ntile octiles +
    // percent_rank/cume_dist/dense_rank per language over token count
    // (tie-broken by doc_id → fully deterministic). The report shape is a
    // per-group sort (WindowExec); at 100 TB assign buckets from
    // approx_percentile thresholds instead (q49 path) — rank positions
    // need the sort, bucket membership does not.
    "q136_length_buckets" -> ((s, dir) => {
      import graft.llm.TextOps
      import org.apache.spark.sql.expressions.Window
      val d0 = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(TextOps.lowerTokens(col("text"))).cast("long").as("nt"))
      val w = Window.partitionBy("lang").orderBy(col("nt"), col("doc_id"))
      val wd = Window.partitionBy("lang").orderBy(col("nt"))
      d0.select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
        ntile(8).over(w).cast("long").as("bucket"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        dense_rank().over(wd).cast("long").as("dr"))
    }),

    // GROUPING SETS — the third member of the multi-granularity family
    // next to rollup (q73) and cube (q94): two marginal reports (by lang,
    // by source) in ONE corpus pass, without cube's 2ᵏ blowup.
    // grouping() flags disambiguate aggregation nulls from data nulls.
    "q137_grouping_sets" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source"))),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          grouping(col("lang")).cast("long").as("g_lang"),
          grouping(col("source")).cast("long").as("g_source"))
    }),

    // Equi-width histogram of document length per language — integer
    // bucket arithmetic (div, not double division), map-combinable
    // groupBy; the profile report that sizes chunking (q92) and packing
    // budgets (q117) before a run.
    "q138_length_histogram" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), least(expr("n_chars div 64"), lit(15L)).as("bucket"))
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n_docs"))
        .select(col("lang"), col("bucket"), (col("bucket") * 64).as("bucket_lo"),
          col("n_docs"))
    }),

    // Equi-DEPTH histogram — q138's twin by population instead of
    // width: exact quartile boundaries (q42 interpolation parity) and
    // the resulting bucket occupancies per language. The boundary pass
    // is an exact percentile over bounded groups; the count pass is a
    // broadcast join + conditional sums. At 100 TB the boundaries come
    // from approx_percentile (q49 gate) and this shape is how range
    // partition bounds for q95-style layout are chosen.
    "q139_equidepth_histogram" -> ((s, dir) => {
      val d0 = Tables.documents(s, dir).select(col("lang"),
        col("n_chars").cast("long").as("x"))
      val qs = d0.groupBy("lang").agg(
        expr("percentile(x, 0.25)").as("q1"),
        expr("percentile(x, 0.5)").as("q2"),
        expr("percentile(x, 0.75)").as("q3"))
      d0.join(broadcast(qs), "lang")
        .groupBy(col("lang"), col("q1"), col("q2"), col("q3"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("x") <= col("q1"), 1L).otherwise(0L)).as("n_b1"),
          sum(when(col("x") > col("q1") && col("x") <= col("q2"), 1L)
            .otherwise(0L)).as("n_b2"),
          sum(when(col("x") > col("q2") && col("x") <= col("q3"), 1L)
            .otherwise(0L)).as("n_b3"),
          sum(when(col("x") > col("q3"), 1L).otherwise(0L)).as("n_b4"))
    }),

    // Tokenizer fertility per language — the acceptance metric for a
    // vocabulary (q128): BPE tokens per whitespace word, and chars per
    // BPE token. A language with outsized fertility pays proportionally
    // more compute per text byte at training time; this report is how a
    // team decides the vocab needs rebalancing BEFORE tokenizing 100 TB.
    // Ratios emitted as floor-ppm integers (q127 convention — exact,
    // no float aggregate anywhere); size(bpe_encode) collapses to the
    // allocation-free bpe_count via the optimizer rule (PlanSpec).
    "q140_tokenizer_fertility" -> ((s, dir) => {
      val ws = size(filter(split(col("text"), "\\s+"), w => w =!= ""))
        .cast("long")
      val bt = coalesce(size(call_function("bpe_encode", col("text"))), lit(0))
        .cast("long")
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars").cast("long").as("nc"),
          ws.as("ws"), bt.as("bt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws_tokens"),
          sum("bt").as("bpe_tokens"), sum("nc").as("snc"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          floor(lit(1000000.0) * col("bpe_tokens") /
            greatest(col("ws_tokens"), lit(1L))).cast("long").as("fertility_ppm"),
          floor(lit(1000000.0) * col("snc") /
            greatest(col("bpe_tokens"), lit(1L))).cast("long").as("chars_per_tok_ppm"))
    }),

    // Table profiler — the pre-ingest governance pass (Deequ-style): one
    // row per column with null count, exact distinct count, min/max
    // rendered type-stably (doubles via DECIMAL(18,2) so both engines
    // print identical strings), plus the 100 TB gate: the HLL sketch's
    // distinct estimate must sit inside q62's bounds. Shape: ALL
    // columns' null/min/max/sketch stats fold into ONE map-combinable
    // aggregate over one scan (r7 verdict: per-column base passes were
    // C scans for C×4 expressions' worth of work); only the exact
    // distincts stay per-column two-level aggregates (never the
    // multi-distinct Expand — q62's lesson ×11 columns would be 11
    // copies of every row in one exchange). At 100× you keep only the
    // sketch arm; here the exact arm is the oracle anchor proving the
    // sketch honest.
    "q141_data_profile" -> ((s, dir) =>
      // exact arm ON explicitly: this gate is the oracle anchor proving
      // the sketch honest; production callers go through profileAuto,
      // which picks the sketch-only scale mode for wide tables
      graft.operators.Profiling.profile(Tables.lineitem(s, dir),
        exactDistinct = true)),

    // Multi-touch attribution credit — the model layer over the GA
    // touchpoint paths (q10/q16): per channel, first-touch and
    // last-touch counts plus LINEAR (1/n each) and U-SHAPE (40/20/40)
    // fractional credit. Fractions are floor-ppm INTEGERS per touch
    // (floor(1e6/n) — bit-identical to DuckDB's identical double op),
    // so the channel totals are exact integer sums: a double credit sum
    // would be partition-order dependent. Shape: one per-user window
    // for (rank, n), then a map-combinable groupBy — per-user state is
    // a rank, not an array.
    "q146_attribution_credit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy("user_id")
      val touches = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("channel"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
      val linear = floor(lit(1000000.0) / col("n")).cast("long")
      val ushape = when(col("n") === 1, lit(1000000L))
        .when(col("n") === 2, lit(500000L))
        .when(col("rn") === 1 || col("rn") === col("n"), lit(400000L))
        .otherwise(floor(lit(200000.0) / (col("n") - 2)).cast("long"))
      touches.groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_first"),
          sum(when(col("rn") === col("n"), 1L).otherwise(0L)).as("n_last"),
          sum(linear).as("linear_ppm"),
          sum(ushape).as("ushape_ppm"))
    }),

    // Exact-QUOTA stratified sample — q51's ratio twin: exactly k docs
    // per language, chosen by deterministic md5 order (no RNG, stable
    // under any partitioning). Uses the bounded-heap top-k AGGREGATE
    // (q69's operator), not a window: per-group state is k rows, and
    // the heap combines map-side, so a 100 TB stratum never sorts.
    "q152_quota_sample" -> ((s, dir) => {
      import graft.operators.TopK
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("h"))
      TopK.topKPerKey(docs, Seq(col("lang")),
        struct(col("h"), col("doc_id")), k = 20, largest = false)
        .select(col("lang"), col("_row.doc_id").as("doc_id"), col("rank"))
    }),

    // Epoch-REPETITION plan — the upsampling twin of the q80/q124
    // downsamplers (LLaMA-style mixes repeat small high-quality sources
    // >1 epoch): per source a milli-epoch factor; each doc gets
    // floor(me/1000) copies plus one more iff its md5 bucket falls
    // under me%1000 — so the realized copy count hits the declared
    // epochs within 1/1000 deterministically, no RNG. Gate: per-source
    // doc and copy totals.
    "q153_epoch_repeats" -> ((s, dir) => {
      import graft.llm.Splits
      val milliEpochs = Seq("src0" -> 2500L, "src1" -> 1500L, "src2" -> 500L)
      val me = milliEpochs.foldLeft(when(lit(false), lit(0L))) {
        case (acc, (k, v)) => acc.when(col("source") === k, lit(v))
      }.otherwise(lit(1000L))
      val copies = floor(col("me") / 1000.0).cast("long") +
        when(Splits.md5Bucket(col("doc_id"), 1000) < col("me") % 1000, 1L)
          .otherwise(0L)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), me.as("me"))
        .select(col("source"), col("me"), copies.as("copies"))
        .groupBy(col("source"), col("me").as("milli_epochs"))
        .agg(count(lit(1)).as("n_docs"), sum("copies").as("n_copies"))
    }),

    // Attributed REVENUE — the business composition q146's credit model
    // exists for: each user's total (milli-quantized) value is split
    // across channels by linear credit share, so a channel's number is
    // "revenue it deserves part-credit for". Integer end-to-end:
    // per-(user, channel) share in ppm, attribution = floor(rev·share/1e6),
    // channel totals exact sums. Same one-window shape as q146.
    "q151_attributed_revenue" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy("user_id")
      val touches = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("channel"),
          floor(col("value") * 1000).cast("long").as("mv"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("rev_mv", sum("mv").over(wAll))
      val perUserChannel = touches
        .groupBy(col("user_id"), col("channel"), col("n"), col("rev_mv"))
        .agg(count(lit(1)).as("k")) // touches of this channel for this user
        .select(col("channel"),
          (col("k") * floor(lit(1000000.0) / col("n")).cast("long")).as("share_ppm"),
          col("rev_mv"))
      perUserChannel
        .select(col("channel"), col("share_ppm"),
          floor(col("rev_mv").cast("double") * col("share_ppm") / lit(1000000.0))
            .cast("long").as("attr_mv"))
        .groupBy("channel")
        .agg(sum("share_ppm").as("total_share_ppm"),
          sum("attr_mv").as("attributed_mv"))
    }),

    // Filter-attrition report — what a corpus team reviews BEFORE
    // applying a quality gate to 100 TB: per rule, how many documents it
    // would reject (and the composite). One map-combinable aggregate
    // over the same native text_stats pass q24 gates; the single
    // result row unpivots via stack() — no second scan, no shuffle
    // beyond the one global aggregate.
    "q144_filter_attrition" -> ((s, dir) => {
      import graft.llm.TextOps
      val t = col("text")
      val fails: Seq[(String, Column)] = Seq(
        "min_tokens" -> !(TextOps.nTokens(t) >= 20),
        "punct_ratio" -> !(TextOps.punctRatio(t) <= 0.1),
        "stopword_band" -> !TextOps.stopwordRatio(t).between(0.05, 0.6),
        "token_len_band" -> !TextOps.avgTokenLen(t).between(3.0, 12.0),
        "min_chars" -> !(col("n_chars") >= 100L))
      val failFlags = fails.map { case (n, c) =>
        sum(when(c, 1L).otherwise(0L)).as(s"f_$n")
      }
      val anyFlag = sum(when(
        fails.map { case (_, c) => when(c, 1).otherwise(0) }.reduce(_ + _) > 0,
        1L).otherwise(0L)).as("f_any")
      val row = Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_checked"), (failFlags :+ anyFlag): _*)
      val stackArgs = (fails.map(_._1) :+ "any")
        .map(n => s"'$n', f_$n").mkString(", ")
      row.select(col("n_checked"),
        expr(s"stack(${fails.size + 1}, $stackArgs) AS (rule, n_failing)"))
        .select(col("rule"), col("n_checked"), col("n_failing"),
          floor(lit(1000000.0) * col("n_failing") /
            greatest(col("n_checked"), lit(1L))).cast("long").as("fail_ppm"))
    }),

    // Referential-integrity audit across the whole star schema — the
    // cross-table expectation q82 doesn't cover: for each FK relation,
    // total rows and orphan rows (left_anti against the distinct dim
    // key). Dim sides here broadcast; at 100 TB the big-dim relations
    // (orders, part) become shuffle anti-joins, with q93's bloom
    // pre-filter as the cheap first pass. All-zero orphans is the
    // EXPECTED result on consistent data — the spec plants an orphan to
    // prove detection.
    "q142_fk_audit" -> ((s, dir) => {
      import graft.operators.Profiling.{fkRelation => rel}
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
      Seq(
        rel("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        rel("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"),
        rel("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        rel("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        rel("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        rel("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey"),
        rel("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
        rel("events.user_id->customer", Tables.events(s, dir), "user_id", c, "c_custkey")
      ).reduce(_ unionByName _)
    })
  
  )
}
