package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Self-trained bigram language model scoring — the perplexity-style
  * quality filter one notch above [[TextOps.unigramSurprisal]]: a
  * document whose word TRANSITIONS are improbable under the corpus's
  * own bigram statistics is gibberish or shuffled boilerplate even when
  * its unigram mix looks fine (and conversely, templated text scores
  * conspicuously low). No external model: train and score in one job,
  * like the CCNet/Gopher-style filters do at corpus scale.
  *
  * Model: add-k smoothing, P(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)
  * with k = 0.5 and V = the corpus unigram vocabulary size. Score =
  * mean negative ln P over the document's bigram instances (natural-log
  * cross-entropy per bigram).
  *
  * Scale shape: ONE corpus explode produces both the per-doc bigram
  * counts and (reduced again by bigram) the global bigram table; the
  * first-word totals c(w1 ·) are derived from that vocabulary-sized
  * table, NOT by re-reading the corpus. All aggregations are
  * map-combinable counts; the vocab size is a 1-row broadcast. The only
  * corpus-sized shuffle is the per-doc reduce. Doubles are bit-stable:
  * per-doc contributions fold in bigram-sorted order (the q55/q75
  * trick), so the DuckDB oracle reproduces the sum exactly.
  */
object BigramLm {

  val AddK = 0.5

  /** Bigram instances (with multiplicity, in order) of the lowercased
    * whitespace tokens: ["a b", "b c", ...]; empty below 2 tokens. */
  def bigrams(text: Column): Column = {
    val toks = TextOps.lowerTokens(text)
    zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
  }

  /** `(doc_id, n_bigrams, xent)`: per-document add-k bigram
    * cross-entropy; `xent` is null for docs with fewer than 2 tokens.
    *
    * Profile (round 9, q91 at sf0.1 on local[32], warm; later per-query
    * times are recorded in OPTIMIZATION_r14.md and OPTIMIZATION_r15.md): the
    * full score runs ≈ 2.0 s, a fold-free variant (plain `sum(c)`,
    * order-dependent) ≈ 1.9 s, and the cached tf table alone ≈ 0.6 s —
    * i.e. the bit-stability sorted fold costs ~5% of the query, the
    * dominant cost is the corpus-sized (doc, bigram) shuffle + the
    * three joins, and the round-8 record's 11.7 s was machine drift
    * (the calibration probe now pins that). The fold stays.
    *
    * `cache = true` (default, the MinHashLsh lifecycle): the per-doc tf
    * table feeds THREE branches (global bigram counts, first-word
    * totals, and the per-doc fold) — without a persist each branch
    * re-explodes the corpus. The result is eagerly localCheckpointed
    * and the cache unpersisted before returning, so nothing lingers in
    * the CacheManager. `cache = false` exposes the lazy plan (specs). */
  def score(docs: DataFrame, id: Column, text: Column,
            cache: Boolean = true): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("_text"))
    val inst = base.select(col("doc_id"),
      explode(bigrams(col("_text"))).as("bg"))
    // per-doc multiplicities (corpus-sized shuffle #1, map-combinable)
    val tf0 = inst.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    val tf = if (cache)
      tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tf0
    // global bigram counts: reduce the per-doc table again — vocab²-bounded,
    // no second pass over the corpus
    val c2 = tf.groupBy(col("bg")).agg(sum(col("tf")).as("c2"))
    // first-word totals from the bigram table (vocab-sized)
    val c1 = c2.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    // unigram vocabulary size: map-combinable distinct, 1 row, broadcasts
    val v = base.select(explode(TextOps.lowerTokens(col("_text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val contrib = tf
      .join(c2, "bg")
      .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(v))
      .withColumn("c", col("tf").cast("double") *
        log((col("c2").cast("double") + AddK) /
          (col("c1").cast("double") + (col("v").cast("double") * AddK))))
    val summed = contrib.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("bg"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("s"))
    val result = base.select(col("doc_id")).join(summed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 4).as("xent"))
    if (cache) {
      val out = result.localCheckpoint(true)
      tf.unpersist()
      out
    } else result
  }

  /** Interpolated Kneser–Ney bigram cross-entropy — the KenLM-grade
    * smoothing CCNet-style filters actually run (Kneser & Ney '95;
    * Chen & Goodman '98 eq. 4.26), one notch above [[score]]'s add-k:
    * instead of flattening every unseen/rare transition toward a
    * uniform 1/V, the backoff mass goes to the CONTINUATION unigram
    * P_cont(w2) = N1+(·w2)/N1+(··) — "how many distinct histories does
    * w2 follow" — which is what separates a genuinely versatile word
    * from one frequent only inside a single collocation ("Francisco"
    * is common but almost always follows "San"; KN backs off to it
    * reluctantly, add-k generously).
    *
    *   P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *               + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with the classic D = 0.75. Self-trained and self-scored like
    * [[score]], so every scored bigram has c ≥ 1 and P > 0 — no OOV
    * branch.
    *
    * Scale shape is [[score]]'s with ZERO extra corpus passes: ALL the
    * KN statistics (c1, N1+(w1·), N1+(·w2), N1+(··)) are one-more
    * reductions of the vocab²-bounded bigram-type table, which is
    * persisted because it feeds four consumers. Bit-stability: the
    * probability is assembled as one ratio of products of exact-integer
    * doubles (exact while every product < 2^53 — at corpus scales
    * beyond that the DOUBLE ratio merely loses hash-exactness, the
    * estimate stays fine), one ln per bigram type, and the per-doc sum
    * folds in bigram-sorted order exactly as [[score]] does. */
  def scoreKneserNey(docs: DataFrame, id: Column, text: Column,
                     cache: Boolean = true): DataFrame = {
    val D = 0.75
    val base = docs.select(id.as("doc_id"), text.as("_text"))
    val inst = base.select(col("doc_id"),
      explode(bigrams(col("_text"))).as("bg"))
    val tf0 = inst.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    val tf = if (cache)
      tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tf0
    // bigram-type table: (bg, c2) — every KN statistic reduces from it
    val c20 = tf.groupBy(col("bg")).agg(sum(col("tf")).as("c2"))
    val c2 = if (cache)
      c20.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else c20
    // per-history: total count c1 AND distinct-continuation count N1+(w1·)
    val c1 = c2.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1w1"))
    // per-continuation: distinct-history count N1+(·w2)
    val cont = c2.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("ncw2"))
    // total bigram types N1+(··): 1 row, broadcasts
    val nbt = c2.agg(count(lit(1)).as("nbt"))
    val contrib = tf
      .join(c2, "bg")
      .join(c1, substring_index(col("bg"), " ", 1) === col("w1"))
      .join(cont, substring_index(col("bg"), " ", -1) === col("w2"))
      .crossJoin(broadcast(nbt))
      .withColumn("c", col("tf").cast("double") *
        log((greatest(col("c2").cast("double") - D, lit(0.0)) * col("nbt").cast("double") +
          lit(D) * col("n1w1").cast("double") * col("ncw2").cast("double")) /
          (col("c1").cast("double") * col("nbt").cast("double"))))
    val summed = contrib.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("bg"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("s"))
    val result = base.select(col("doc_id")).join(summed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 4).as("xent"))
    if (cache) {
      val out = result.localCheckpoint(true)
      tf.unpersist(); c2.unpersist()
      out
    } else result
  }
}
