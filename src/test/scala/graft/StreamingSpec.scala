package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{StreamingDedup, StreamingSessionize}
import graft.streaming.StreamingSessionize.Ev

/** Top-level so Spark can build an encoder without an outer scope. */
case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

class StreamingTopKSpec extends SparkTestBase {
  import spark.implicits._
  import graft.streaming.StreamingTopK
  import graft.streaming.StreamingTopK.{Arrival, Counter, Snapshot}

  test("SpaceSaving offer: tracked increment, free slot, min eviction with tie rule") {
    val c0 = List.empty[Counter]
    val c1 = Seq("a", "a", "b", "c").foldLeft(c0)(
      (cs, i) => StreamingTopK.offer(cs, i, capacity = 3))
    assert(c1.map(c => c.item -> ((c.count, c.err))).toMap ==
      Map("a" -> ((2L, 0L)), "b" -> ((1L, 0L)), "c" -> ((1L, 0L))))
    // full: new item evicts the min; tie (b,c) breaks to smallest "b"
    val c2 = StreamingTopK.offer(c1, "d", capacity = 3)
    val m = c2.map(c => c.item -> ((c.count, c.err))).toMap
    assert(!m.contains("b") && m("d") == ((2L, 1L)), m.toString)
    assert(m.contains("c"), "only the tie-min is evicted")
  }

  test("SpaceSaving guarantees on a random-ish scripted stream") {
    val rnd = new scala.util.Random(42)
    val items = Seq.fill(400)(s"i${rnd.nextInt(30)}") ++
      Seq.fill(200)("HH") // a true heavy hitter: 200 of 600 > n/cap
    val cap = 10
    val cs = items.foldLeft(List.empty[Counter])(
      (acc, i) => StreamingTopK.offer(acc, i, cap))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(cs.exists(_.item == "HH"), "guarantee (a): f > n/cap is tracked")
    cs.foreach { c =>
      val t = truth(c.item)
      assert(c.count >= t && c.count - c.err <= t,
        s"guarantee (b) violated for $c vs true $t")
    }
  }

  test("streaming snapshots: per-batch top-k, state carried across batches") {
    val input = MemoryStream[Arrival](spark)
    val q = StreamingTopK.topK(input.toDS(), capacity = 3, k = 2)
      .writeStream.format("memory").queryName("tk_out")
      .outputMode("update").start()
    try {
      input.addData(Arrival("g", "a", 1), Arrival("g", "a", 2),
        Arrival("g", "b", 3), Arrival("g", "c", 4))
      q.processAllAvailable()
      input.addData(Arrival("g", "d", 5), Arrival("g", "d", 6),
        Arrival("h", "z", 7))
      q.processAllAvailable()
      val out = spark.table("tk_out").as[Snapshot].collect()
      val b1 = out.filter(s => s.key == "g" && s.batch_seq == 1)
        .sortBy(_.rank).map(s => (s.item, s.count, s.err)).toSeq
      assert(b1 == Seq(("a", 2L, 0L), ("b", 1L, 0L)), b1.toString)
      // batch 2: d evicts min "b" (tie to smallest) -> d: 2+... d twice:
      // first d replaces b (count 2, err 1), second d increments -> 3
      val b2 = out.filter(s => s.key == "g" && s.batch_seq == 2)
        .sortBy(_.rank).map(s => (s.item, s.count, s.err)).toSeq
      assert(b2 == Seq(("d", 3L, 1L), ("a", 2L, 0L)), b2.toString)
      val h = out.filter(_.key == "h").map(s => (s.item, s.count)).toSeq
      assert(h == Seq(("z", 1L)), "keys are independent")
    } finally q.stop()
  }
}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming exact dedup keeps the first occurrence of each fingerprint") {
    val base = 1700000000000L
    val input = MemoryStream[StreamDoc](spark)
    val q = StreamingDedup.exactDedup(input.toDF())
      .select("doc_id")
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, "Hello,   World!", new Timestamp(base)),
        StreamDoc(2, "hello world", new Timestamp(base + 1000)), // dup of 1 normalized
        StreamDoc(3, "something else", new Timestamp(base + 2000)))
      q.processAllAvailable()
      input.addData(
        StreamDoc(4, "HELLO world.", new Timestamp(base + 3000)), // dup again, later batch
        StreamDoc(5, "fresh content", new Timestamp(base + 4000)))
      q.processAllAvailable()
      val kept = spark.table("dd_out").as[Long].collect().toSet
      assert(kept == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("freshness monitor: listener tracks rows/staleness on a manual " +
    "clock; table probe reports max ts (the S10 alarm analog)") {
    import graft.streaming.{FreshnessListener, FreshnessMonitor}
    val base = 1700000000000L
    @volatile var nowMs = base
    val listener = new FreshnessListener(() => nowMs).attach(spark)
    val input = MemoryStream[StreamDoc](spark)
    val q = input.toDF().writeStream.format("memory")
      .queryName("fresh_out").outputMode("append").start()
    try {
      // listener events ride an async bus — poll until they landed
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime + 10000000000L
        while (!listener.report(0).exists(f =>
          f.name == "fresh_out" && f.totalRows == n) &&
          System.nanoTime < deadline) Thread.sleep(50)
      }
      input.addData(StreamDoc(1, "a", new Timestamp(base)),
        StreamDoc(2, "b", new Timestamp(base + 1000)))
      q.processAllAvailable()
      awaitRows(2)
      nowMs += 60000 // 1 min later, inside the hour window
      val fresh = listener.report(staleAfterMs = 3600000)
        .filter(_.name == "fresh_out")
      assert(fresh.nonEmpty && !fresh.head.stale)
      assert(fresh.head.totalRows == 2)
      assert(fresh.head.msSinceData == 60000)
      // idle empty batches keep progress flowing but do NOT refresh the
      // data clock: an hour with no rows = the reference's
      // LessThanThreshold alarm (TreatMissingData breaching)
      nowMs += 3600000
      val stale = listener.report(staleAfterMs = 3600000)
        .filter(_.name == "fresh_out")
      assert(stale.head.stale && stale.head.totalRows == 2)
      // a new batch with data un-stales it
      input.addData(StreamDoc(3, "c", new Timestamp(base + 2000)))
      q.processAllAvailable()
      awaitRows(3)
      val back = listener.report(staleAfterMs = 3600000)
        .filter(_.name == "fresh_out")
      assert(!back.head.stale && back.head.totalRows == 3)
    } finally {
      q.stop()
      listener.detach(spark)
    }
    // batch half: landed-data freshness from one column-pruned aggregate
    val (maxMs, n) = FreshnessMonitor.ofTable(
      graft.sources.Tables.events(spark, sf), "ts")
    assert(n > 0 && maxMs.isDefined && maxMs.get > 0)
  }

  test("streaming corpus scrub: quality + PII + exact dedup compose over a stream") {
    import graft.llm.TextOps
    // PII redaction and the quality filter are per-row projections, so
    // they stream as-is; composed with fingerprint dedup this is the
    // streaming face of CorpusPipeline (line dedup needs corpus-wide
    // frequencies and stays batch-only by design).
    val base = 1700000000000L
    val goodA = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep dark forest where nobody ever goes at night"
    val goodB = "completely different content about spark query engines and " +
      "columnar execution with vectorized operators for the modern data stack"
    val input = MemoryStream[StreamDoc](spark)
    val scrubbed = input.toDF()
      .where(TextOps.qualityScore(col("text")) >= 3)
      .withColumn("text", TextOps.redactPii(col("text")))
    val q = StreamingDedup.exactDedup(scrubbed)
      .select(col("doc_id"), col("text"))
      .writeStream.format("memory").queryName("scrub_out")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, s"$goodA call 030-1234-5678", new Timestamp(base)),
        StreamDoc(2, "short junk", new Timestamp(base + 1000)))
      q.processAllAvailable()
      input.addData(
        StreamDoc(3, goodA.toUpperCase + " CALL 030-1234-5678", new Timestamp(base + 2000)),
        StreamDoc(4, goodB, new Timestamp(base + 3000)))
      q.processAllAvailable()
      val rows = spark.table("scrub_out")
        .as[(Long, String)].collect().toMap
      // 2 fails quality; 3 is a normalized dup of the scrubbed 1
      assert(rows.keySet == Set(1L, 4L))
      assert(rows(1L).contains("<PHONE>") && !rows(1L).contains("030"))
    } finally q.stop()
  }

  test("streaming admission: later batches dedup against earlier admissions, " +
    "and redelivery admits nothing (idempotent by construction)") {
    import graft.streaming.StreamingAdmission
    val base = 1700000000000L
    val goodA = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep dark forest where nobody ever goes at night"
    val goodB = "completely different content about spark query engines and " +
      "columnar execution with vectorized operators for the modern data stack"
    val goodC = "yet another unrelated passage that discusses cooking recipes " +
      "for bread pasta and soup with many fresh ingredients from the market"
    val dir = java.nio.file.Files.createTempDirectory("adm_corpus").toString
    val ckpt = java.nio.file.Files.createTempDirectory("adm_ckpt").toString
    val input = MemoryStream[StreamDoc](spark)
    val q = StreamingAdmission.run(
      input.toDF().select("doc_id", "text"), dir, ckpt, threshold = 0.5)
    try {
      input.addData(
        StreamDoc(1, goodA, new Timestamp(base)),
        StreamDoc(2, goodA.replace("lazy", "sleepy"), new Timestamp(base + 1)),
        StreamDoc(3, goodB, new Timestamp(base + 2)))
      q.processAllAvailable()
      val after1 = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
      assert(after1 == Set(1L, 3L), s"batch 1 admitted $after1")
      input.addData(
        StreamDoc(4, goodA, new Timestamp(base + 3)),                      // corpus-exact
        StreamDoc(5, goodB.replace("modern", "future"), new Timestamp(base + 4)), // near-dup of 3
        StreamDoc(6, goodC, new Timestamp(base + 5)))                      // fresh
      q.processAllAvailable()
      val after2 = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
      assert(after2 == Set(1L, 3L, 6L), s"batch 2 admitted $after2")
      // redelivery: the same documents offered again admit nothing —
      // each is now corpus-exact or a near-dup of an admitted row
      input.addData(
        StreamDoc(6, goodC, new Timestamp(base + 6)),
        StreamDoc(7, goodC.replace("soup", "stew"), new Timestamp(base + 7)))
      q.processAllAvailable()
      val after3 = spark.read.parquet(dir).select("doc_id").as[Long].collect().toSet
      assert(after3 == Set(1L, 3L, 6L), s"redelivery changed the corpus: $after3")
    } finally q.stop()
  }

  test("windowed dedup suppresses duplicates inside the watermark horizon") {
    val base = 1700000000000L
    val input = MemoryStream[StreamDoc](spark)
    val q = StreamingDedup.windowedDedup(input.toDF(), "10 seconds")
      .select("doc_id")
      .writeStream.format("memory").queryName("dw_out").outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, "same text", new Timestamp(base)),
        StreamDoc(2, "same text", new Timestamp(base + 1000)))
      q.processAllAvailable()
      val kept = spark.table("dw_out").as[Long].collect().toSet
      assert(kept == Set(1L), s"duplicate inside horizon must drop, got $kept")
    } finally q.stop()
  }

  test("keepFirstWithinHorizon: chained restart, ties, per-key independence") {
    // key 7, horizon 10: 0 kept; 8 dropped (within 10 of 0); 14 kept
    // (chain RESTARTED at 14, not measured from 8); 21 dropped (within
    // 10 of 14); 25 kept. Tie at ts=0 keeps the lower event_id only.
    val df = Seq(
      (1L, 7L, 0L), (2L, 7L, 0L), (3L, 7L, 8L), (4L, 7L, 14L),
      (5L, 7L, 21L), (6L, 7L, 25L),
      (7L, 9L, 9L) // other key: independent chain
    ).toDF("event_id", "user_id", "ts_ms")
    val kept = StreamingDedup
      .keepFirstWithinHorizon(df, "user_id", "ts_ms", 10L, "event_id")
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L, 7L))
    // exactly one exchange: the key repartition (sort is in-partition)
    val plan = StreamingDedup
      .keepFirstWithinHorizon(df, "user_id", "ts_ms", 10L, "event_id")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, s"plan:\n$plan")
  }

  test("windowed dedup: stream-kept is a subset of the batch contract's kept set") {
    // The documented relation (StreamingDedup.keepFirstWithinHorizon):
    // streaming may drop MORE than the batch contract (state lingers
    // pre-eviction) but never keeps a row the contract drops. Feed the
    // same docs through both and assert ⊆.
    val base = 1700000000000L
    val mins = 60000L
    val docs = Seq(
      StreamDoc(1, "dup text", new Timestamp(base)),
      StreamDoc(2, "dup text", new Timestamp(base + 5 * mins)),   // within 10m
      StreamDoc(3, "dup text", new Timestamp(base + 30 * mins)),  // far past
      StreamDoc(4, "other", new Timestamp(base + 31 * mins)))
    val input = MemoryStream[StreamDoc](spark)
    val q = StreamingDedup.windowedDedup(input.toDF(), "10 minutes")
      .select("doc_id")
      .writeStream.format("memory").queryName("wd_sub").outputMode("append").start()
    try {
      docs.foreach { d => input.addData(d); q.processAllAvailable() }
      val streamKept = spark.table("wd_sub").as[Long].collect().toSet
      val batchKept = StreamingDedup.keepFirstWithinHorizon(
        StreamingDedup.withFingerprint(docs.toDF())
          .withColumn("ts_ms", unix_millis(col("ts"))),
        "fingerprint", "ts_ms", 10 * mins, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(streamKept.subsetOf(batchKept),
        s"stream kept $streamKept, contract allows only $batchKept")
      assert(streamKept.contains(1L) && streamKept.contains(4L)) // firsts always kept
      assert(!streamKept.contains(2L)) // within-horizon duplicate must drop
    } finally q.stop()
  }

  test("streaming near-dup dedup drops sketch collisions across batches") {
    val base = 1700000000000L
    val input = MemoryStream[StreamDoc](spark)
    val q = graft.streaming.StreamingDedup.nearDupDedup(input.toDF())
      .select("doc_id")
      .writeStream.format("memory").queryName("nd_out").outputMode("append").start()
    try {
      val boiler = "the quick brown fox jumps over the lazy dog again and again " * 4
      input.addData(
        StreamDoc(1, boiler, new Timestamp(base)),
        StreamDoc(2, "completely different content about spark plans here",
          new Timestamp(base + 1000)))
      q.processAllAvailable()
      // identical boilerplate in a LATER batch collides on the sketch
      input.addData(StreamDoc(3, boiler, new Timestamp(base + 2000)))
      q.processAllAvailable()
      val kept = spark.table("nd_out").as[Long].collect().toSet
      assert(kept == Set(1L, 2L))
      // parity: the streaming key equals the batch q23 fingerprint
      val batchFp = graft.llm.SimHash.fingerprints(
          Seq((1L, boiler)).toDF("doc_id", "text"), col("doc_id"), col("text"))
        .select("simhash").as[Long].head()
      val streamFp = graft.streaming.StreamingDedup.nearDupDedup(
          Seq((9L, boiler)).toDF("doc_id", "text"))
        .select("simhash").as[Long].head()
      assert(batchFp == streamFp)
    } finally q.stop()
  }

  test("streaming packer: per-shard cursor persists across batches; " +
      "single-batch stream equals the batch operator") {
    import graft.streaming.StreamingPacker
    val docs = (1L to 60L).map(i => (i, 40 + (i % 7) * 13))
    val input = MemoryStream[(Long, Long)](spark)
    val q = StreamingPacker.pack(
        input.toDF().toDF("doc_id", "n_tokens"), budget = 128, shards = 4)
      .writeStream.format("memory").queryName("pk_out").outputMode("append").start()
    try {
      // one batch with everything -> must equal batch packGreedy exactly
      input.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("pk_out")
        .select("shard", "doc_id", "n_tokens", "seq_no", "offset")
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
      val batch = graft.llm.Packing.packGreedy(
          docs.toDF("doc_id", "n_tokens"), col("doc_id"), col("n_tokens"),
          budget = 128, shards = 4)
        .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._2)
      assert(streamed.toSeq == batch.toSeq,
        "a single-batch stream must be bit-identical to batch packing")
    } finally q.stop()

    // cursor persistence: the same docs split over two batches continue
    // sequences across the batch boundary (no seq reset, no fill reset)
    val input2 = MemoryStream[(Long, Long)](spark)
    val q2 = StreamingPacker.pack(
        input2.toDF().toDF("doc_id", "n_tokens"), budget = 128, shards = 1)
      .writeStream.format("memory").queryName("pk_out2").outputMode("append").start()
    try {
      input2.addData(Seq((10L, 100L)))
      q2.processAllAvailable()
      input2.addData(Seq((11L, 20L), (12L, 50L)))
      q2.processAllAvailable()
      val rows = spark.table("pk_out2")
        .select("doc_id", "seq_no", "offset")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // doc 10: seq 1 fill 100; doc 11 (next batch): 100+20<=128 joins
      // seq 1 at offset 100; doc 12: 120+50>128 -> seq 2 offset 0
      assert(rows.toSeq == Seq((10L, 1L, 0L), (11L, 1L, 100L), (12L, 2L, 0L)))
    } finally q2.stop()
  }

  test("batch/stream parity: exactDedup on a static frame = groupBy dedup") {
    val docs = Seq(
      StreamDoc(1, "A b C", new Timestamp(0)), StreamDoc(2, "a B c", new Timestamp(1)),
      StreamDoc(3, "other", new Timestamp(2))).toDF()
    val kept = StreamingDedup.exactDedup(docs).select("doc_id")
      .as[Long].collect().toSet
    // dropDuplicates keeps an arbitrary row per key on static frames —
    // assert the group structure, not which member survived
    assert(kept.size == 2 && kept.contains(3L) &&
      (kept.contains(1L) || kept.contains(2L)))
  }

  private val Gap = StreamingSessionize.GapMs
  private def ev(u: Long, ms: Long) = Ev(u, new Timestamp(ms))

  test("batch session_window matches gap semantics") {
    // Note: session_window splits only when the inter-event gap is
    // STRICTLY GREATER than the gap (touching windows merge), unlike the
    // reference's `>= 30min` flag — documented divergence of this route.
    val base = 1700000000000L
    val df = Seq(
      ev(1, base), ev(1, base + 1000), ev(1, base + 2 * Gap),
      ev(2, base)).toDF()
    val out = StreamingSessionize.sessionWindowAgg(df)
      .orderBy("user_id", "session_start_ms").collect()
    assert(out.length == 3)
    // session end = last event + gap (session_window semantics)
    assert(out(0).getLong(1) == base && out(0).getLong(2) == base + 1000 + Gap)
    assert(out(0).getLong(3) == 2)
    assert(out(1).getLong(1) == base + 2 * Gap)
  }

  test("streaming session_window emits finalized sessions after watermark") {
    val base = 1700000000000L
    val input = MemoryStream[Ev](spark)
    val q = StreamingSessionize.sessionWindowAgg(
      input.toDF(), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("sw_out").outputMode("append").start()
    try {
      input.addData(ev(1, base), ev(1, base + 60000))
      q.processAllAvailable()
      // sentinel far in the future advances the watermark past end+gap
      input.addData(ev(99, base + 10 * Gap))
      q.processAllAvailable()
      input.addData(ev(99, base + 20 * Gap))
      q.processAllAvailable()
      val rows = spark.table("sw_out").orderBy("user_id").collect()
      assert(rows.exists(r => r.getLong(0) == 1 &&
        r.getLong(1) == base && r.getLong(3) == 2),
        s"got: ${rows.mkString(";")}")
    } finally q.stop()
  }

  test("watermarked stream emits q158's cross-midnight sessions exactly " +
    "(the sessions the reference's daily batch splits)") {
    // q158's fixture: events remapped into a 2-hour band around each
    // midnight (same integer-ms transform as the query/oracle), bounded
    // to a user subset so the MemoryStream batch stays spec-sized
    val ev0 = graft.sources.Tables.events(spark, sf)
      .filter(col("user_id") < 30)
      .select(col("user_id"), unix_millis(col("ts")).as("tms"))
      .select(col("user_id"),
        (col("tms") - pmod(col("tms"), lit(86400000L)) + lit(82800000L) +
          expr("(tms % 86400000) div 12")).as("ts_ms"))
    val batch = StreamingSessionize.sessionWindowAgg(
      ev0.select(col("user_id"), timestamp_millis(col("ts_ms")).as("ts")))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // at least one batch session straddles midnight — the fixture's point
    val crossing = batch.filter { case (_, s, e, _) =>
      s / 86400000L != (e - Gap) / 86400000L }
    assert(crossing.nonEmpty, "fixture lost its cross-midnight sessions")

    val events = ev0.as[(Long, Long)].collect()
      .map { case (u, ms) => ev(u, ms) }
    val maxMs = events.map(_.ts.getTime).max
    val input = MemoryStream[Ev](spark)
    val q = StreamingSessionize.sessionWindowAgg(
      input.toDF(), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("mid_out")
      .outputMode("append").start()
    try {
      input.addData(events.toSeq: _*)
      q.processAllAvailable()
      // sentinel advances the watermark past every session's end+gap
      input.addData(ev(999999L, maxMs + 100 * Gap))
      q.processAllAvailable()
      val streamed = spark.table("mid_out")
        .filter(col("user_id") < 30)
        .as[(Long, Long, Long, Long)].collect().toSet
      // the watermarked stream finalizes EXACTLY the batch sessions —
      // including every cross-midnight one the daily batch mode splits
      assert(streamed == batch,
        s"stream/batch drift: only-stream=${(streamed -- batch).take(3)} " +
          s"only-batch=${(batch -- streamed).take(3)}")
    } finally q.stop()
  }

  test("streaming upsert sink: re-finalized keys update the serving table; " +
    "untouched partitions never rewritten; redelivery idempotent") {
    val root = java.nio.file.Files.createTempDirectory("sus").toString + "/serve"
    val ckpt = java.nio.file.Files.createTempDirectory("susck").toString
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = graft.streaming.StreamingUpsert.run(
      input.toDF().toDF("id", "day", "v"), root, ckpt, "day", Seq("id"))
    try {
      input.addData((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
      q.processAllAvailable()
      def files(day: String): Map[String, Long] = {
        val d = new java.io.File(s"$root/day=$day")
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.lastModified()).toMap
      }
      val d2Before = files("2024-01-02")
      assert(d2Before.nonEmpty)
      Thread.sleep(1100) // mtime granularity
      // batch 2: key 1 re-finalized (update), key 3 new (insert);
      // day 2024-01-02 untouched
      input.addData((1L, "2024-01-01", 99L), (3L, "2024-01-03", 30L))
      q.processAllAvailable()
      val out = spark.read.parquet(root)
        .select(col("id"), col("day").cast("string"), col("v"))
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((1L, "2024-01-01", 99L), (2L, "2024-01-02", 20L),
        (3L, "2024-01-03", 30L)))
      assert(files("2024-01-02") == d2Before,
        "partition without batch rows must never be rewritten")
      // redelivery (the at-least-once case): merging the same rows again
      // replaces them with identical versions — cardinality stable
      graft.operators.Upsert.upsertPartitionScopedAtomic(spark, root,
        Seq("day"), Seq((1L, "2024-01-01", 99L)).toDF("id", "day", "v"),
        Seq("id"))
      assert(spark.read.parquet(root).count() == 3)
    } finally q.stop()
  }

  test("ATOMIC streaming upsert: each batch is one manifest commit; " +
    "snapshot readers see whole batches only") {
    import graft.sources.Manifest
    val root = java.nio.file.Files.createTempDirectory("sua").toString + "/serve"
    val ckpt = java.nio.file.Files.createTempDirectory("suack").toString
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = graft.streaming.StreamingUpsert.run(
      input.toDF().toDF("id", "day", "v"), root, ckpt, "day", Seq("id"))
    try {
      input.addData((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
      q.processAllAvailable()
      val v1 = Manifest.current(spark, root).get._1
      input.addData((1L, "2024-01-01", 99L), (3L, "2024-01-03", 30L))
      q.processAllAvailable()
      val (v2, _) = Manifest.current(spark, root).get
      assert(v2 > v1, "each non-empty batch publishes a new version")
      val out = Manifest.read(spark, root)
        .select(col("id"), col("day").cast("string"), col("v"))
        .as[(Long, String, Long)].collect().toSet
      assert(out == Set((1L, "2024-01-01", 99L), (2L, "2024-01-02", 20L),
        (3L, "2024-01-03", 30L)))
    } finally q.stop()
  }

  test("declared CHECK constraints gate the streaming MERGE sink " +
    "through the log sidecar: a poisoned micro-batch refuses with " +
    "NOTHING committed; a good stream over the table proceeds") {
    import graft.sources.Manifest
    val root = java.nio.file.Files.createTempDirectory("suchk").toString + "/serve"
    val ckpt = java.nio.file.Files.createTempDirectory("suchkck").toString
    Seq((1L, "2024-01-01", 10L)).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(root)
    Manifest.bootstrap(spark, root)
    // constraint declared IN THE LOG — the sink never consults a
    // catalog; the commit protocol itself must refuse
    Manifest.writeChecks(spark, root, 1L, Map("v_pos" -> "v > 0"))
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = graft.streaming.StreamingUpsert.run(
      input.toDF().toDF("id", "day", "v"), root, ckpt, "day", Seq("id"),
      mergeOnRead = true)
    try {
      input.addData((2L, "2024-01-02", 20L))
      q.processAllAvailable()
      val (v1, files1) = Manifest.current(spark, root).get
      assert(Manifest.read(spark, root).count() == 2L)
      input.addData((3L, "2024-01-03", -5L)) // poisoned batch
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage.contains("v_pos") ||
        Option(e.getCause).exists(_.getMessage.contains("v_pos")),
        s"refusal must name the constraint: ${e.getMessage}")
      assert(Manifest.current(spark, root).get == ((v1, files1)),
        "the poisoned batch must commit NOTHING — version and file " +
          "list unchanged")
      assert(Manifest.read(spark, root).count() == 2L)
    } finally q.stop()
    // the table keeps serving good streams: a fresh query (own
    // checkpoint) with satisfying rows proceeds — the refusal poisoned
    // one batch, not the table
    val ckpt2 = java.nio.file.Files.createTempDirectory("suchkck2").toString
    val input2 = MemoryStream[(Long, String, Long)](spark)
    val q2 = graft.streaming.StreamingUpsert.run(
      input2.toDF().toDF("id", "day", "v"), root, ckpt2, "day", Seq("id"),
      mergeOnRead = true)
    try {
      input2.addData((3L, "2024-01-03", 30L))
      q2.processAllAvailable()
      assert(Manifest.read(spark, root).count() == 3L)
    } finally q2.stop()
  }

  test("live serve composition: stream -> withLiveState sessionizer -> keyed " +
    "merge; late data UPDATES the serving row across triggers") {
    // The full advertised chain, live: events stream in, the
    // Update-mode sessionizer emits each touched session's CURRENT
    // aggregate, and the keyed merge replaces its serving row — the
    // q159 semantics driven end to end instead of batch-replayed.
    val root = java.nio.file.Files.createTempDirectory("lsv").toString + "/serve"
    val ckpt = java.nio.file.Files.createTempDirectory("lsvck").toString
    val base = 1700000000000L // 2023-11-14 UTC
    // EARLIER day: a later day would advance the watermark past
    // trigger 2's late event and the state operator would drop it
    val otherDay = base - 3 * 86400000L
    val input = MemoryStream[Ev](spark)
    val sessions = StreamingSessionize.withLiveState(input.toDS()).toDF()
      .withColumn("day",
        to_date(timestamp_millis(col("session_start_ms"))).cast("string"))
    val q = graft.streaming.StreamingUpsert.run(sessions, root, ckpt,
      "day", Seq("user_id", "session_start_ms"), outputMode = "update")
    def serving(): Set[(Long, Long, Long, Long)] =
      spark.read.parquet(root)
        .select(col("user_id"), col("session_start_ms"),
          col("session_end_ms"), col("n_events"))
        .as[(Long, Long, Long, Long)].collect().toSet
    try {
      // trigger 1: user 1 opens a session (2 events), user 2 a session
      // on ANOTHER day (its partition must never be rewritten after)
      input.addData(ev(1, base), ev(1, base + 60000), ev(2, otherDay))
      q.processAllAvailable()
      assert(serving() == Set(
        (1L, base, base + 60000, 2L), (2L, otherDay, otherDay, 1L)))
      val otherPart = new java.io.File(s"$root/day=2023-11-11")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      assert(otherPart.nonEmpty)
      Thread.sleep(1100) // mtime granularity
      // trigger 2: a LATE within-gap event extends user 1's open
      // session — same (user_id, session_start_ms) key, so the serving
      // row is REPLACED in place: still 2 rows, refined aggregate
      input.addData(ev(1, base + 120000))
      q.processAllAvailable()
      assert(serving() == Set(
        (1L, base, base + 120000, 3L), (2L, otherDay, otherDay, 1L)))
      assert(new java.io.File(s"$root/day=2023-11-11")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap == otherPart,
        "partition without touched keys must never be rewritten")
      // trigger 3: past the gap — the old session's serving row stays
      // at its final value, a NEW session row appears under a new key
      input.addData(ev(1, base + 10 * Gap))
      q.processAllAvailable()
      assert(serving() == Set(
        (1L, base, base + 120000, 3L),
        (1L, base + 10 * Gap, base + 10 * Gap, 1L),
        (2L, otherDay, otherDay, 1L)))
    } finally q.stop()
  }

  test("stream-stream inner join within a time bound matches the batch " +
    "interval semantics") {
    import org.apache.spark.sql.functions.expr
    // Both sides watermarked + a time-range condition: state for a row
    // is evicted once the other side's watermark passes its join window
    // — the streaming twin of operators/IntervalJoin (q76).
    val base = 1700000000000L
    val mins = 60000L
    val lIn = MemoryStream[(Long, Long, Timestamp)](spark)
    val rIn = MemoryStream[(Long, Long, Timestamp)](spark)
    val l = lIn.toDF().toDF("user_id", "a_id", "ts_a")
      .withWatermark("ts_a", "1 minute")
    val r = rIn.toDF().toDF("user_id_r", "b_id", "ts_b")
      .withWatermark("ts_b", "1 minute")
    val q = l.join(r, expr(
      """user_id = user_id_r AND
        |ts_b BETWEEN ts_a - INTERVAL 2 MINUTES AND ts_a + INTERVAL 2 MINUTES""".stripMargin))
      .select("a_id", "b_id")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      lIn.addData((7L, 1L, new Timestamp(base)),
        (7L, 2L, new Timestamp(base + 10 * mins)))
      rIn.addData((7L, 11L, new Timestamp(base + mins)),        // within 2m of a1
        (7L, 12L, new Timestamp(base + 5 * mins)),              // within nothing
        (7L, 13L, new Timestamp(base + 9 * mins)),              // within 2m of a2
        (9L, 14L, new Timestamp(base + mins)))                  // other key
      q.processAllAvailable()
      val got = spark.table("ssj_out").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 11L), (2L, 13L)))
    } finally q.stop()
  }

  test("tumbling windows: append mode emits each window once, after the " +
    "watermark passes its end; batch plan agrees") {
    import graft.streaming.StreamingWindows
    val base = 1700000000000L
    val hour = 3600 * 1000L
    val rows = Seq(
      (new Timestamp(base), "click", 2.0),
      (new Timestamp(base + 60000), "click", 5.0),
      (new Timestamp(base + hour), "click", 7.0), // next window
      (new Timestamp(base + hour + 1000), "view", 1.0))
    val wInput = MemoryStream[(Timestamp, String, Double)](spark)
    val stream = wInput.toDF().toDF("ts", "event_type", "value")
    val q = StreamingWindows.tumblingStats(stream, "1 hour",
      watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("tw_out")
      .outputMode("append").start()
    try {
      wInput.addData(rows.take(2))
      q.processAllAvailable()
      // watermark still inside window 1: nothing finalized yet
      assert(spark.table("tw_out").count() == 0)
      wInput.addData(rows.drop(2))
      q.processAllAvailable()
      // watermark passed window 1's end: exactly its rows emitted, once
      val emitted = spark.table("tw_out")
        .select("event_type", "n_events", "min_value", "max_value")
        .as[(String, Long, Double, Double)].collect().toSet
      assert(emitted == Set(("click", 2L, 2.0, 5.0)))
      // and the batch plan over the same rows agrees on that window
      val batch = StreamingWindows.tumblingStats(
        rows.toDF("ts", "event_type", "value"), "1 hour")
        .select("event_type", "n_events", "min_value", "max_value")
        .as[(String, Long, Double, Double)].collect().toSet
      assert(batch.contains(("click", 2L, 2.0, 5.0)))
    } finally q.stop()
  }

  test("window moments: integer sums merge across triggers; emitted mean/var exact") {
    import graft.streaming.StreamingWindows
    val base = 1700000000000L
    val hour = 3600 * 1000L
    val rows = Seq(
      (new Timestamp(base), "click", 2.0),
      (new Timestamp(base + 60000), "click", 5.0),
      (new Timestamp(base + hour), "click", 7.0)) // advances the watermark
    val wInput = MemoryStream[(Timestamp, String, Double)](spark)
    val stream = wInput.toDF().toDF("ts", "event_type", "value")
    val q = StreamingWindows.windowMoments(stream, "1 hour",
      watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      wInput.addData(rows.take(1)) // first trigger: partial window state
      q.processAllAvailable()
      wInput.addData(rows.drop(1)) // second trigger merges into it
      q.processAllAvailable()
      val emitted = spark.table("wm_out")
        .select("event_type", "n_events", "sum_mv", "sum_mv2", "mean_mv", "var_mv")
        .as[(String, Long, Long, Long, Double, Option[Double])].collect().toSet
      // mv = {2000, 5000}: sums exact, mean 3500, sample var 4.5e6 —
      // identical no matter how rows split across triggers
      assert(emitted ==
        Set(("click", 2L, 7000L, 29000000L, 3500.0, Some(4500000.0))))
      val batch = StreamingWindows.windowMoments(
        rows.toDF("ts", "event_type", "value"), "1 hour")
        .select("event_type", "n_events", "sum_mv", "sum_mv2", "mean_mv", "var_mv")
        .as[(String, Long, Long, Long, Double, Option[Double])].collect().toSet
      assert(batch.contains(
        ("click", 2L, 7000L, 29000000L, 3500.0, Some(4500000.0))))
      // the singleton third window carries a NULL variance, not a crash
      assert(batch.contains(("click", 1L, 7000L, 49000000L, 7000.0, None)))
    } finally q.stop()
  }

  test("streaming drift alarm judges EXACTLY the q145 windows with equal values") {
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{Alarm, Ev}
    val evRows = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"),
        floor(col("value") * 1000).cast("long").as("mv"))
      .as[(String, Timestamp, Long)].collect()
    val maxTs = evRows.map(_._2.getTime).max
    val input = MemoryStream[Ev](spark)
    val q = StreamingDrift.alarms(input.toDS())
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      input.addData(evRows.toSeq.map(r => Ev(r._1, r._2, r._3)))
      q.processAllAvailable()
      // far-future sentinel per key: advances the watermark so every
      // REAL bucket closes (the sentinel's own bucket is never judged)
      val far = new Timestamp(maxTs + 30L * 24 * 3600 * 1000)
      input.addData(evRows.map(_._1).distinct.toSeq.map(t => Ev(t, far, 0L)))
      q.processAllAvailable()
      val streamed = spark.table("drift_out").as[Alarm].collect()
        .map(a => (a.event_type, a.window_start_ms, a.n_events,
          a.mean_mv, a.base_mean, a.alarm)).toSet
      val batch = SparkEntry.queries("q145_drift_alarm")(spark, sf)
        .select(col("event_type"), col("window_start_ms"), col("n_events"),
          col("mean_mv"), col("base_mean"), col("alarm"))
        .as[(String, Long, Long, Double, Double, Boolean)].collect().toSet
      assert(streamed == batch) // exact ==, doubles included
    } finally q.stop()
  }

  test("streaming drift alarm: baseline ring survives a quiet gap (batch-frame parity)") {
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{Alarm, Ev}
    import org.apache.spark.sql.expressions.Window
    val base = 1700000000000L
    val hour = 3600000L
    def mk(hours: Seq[Int]): Seq[Ev] = hours.flatMap { h =>
      (0 until 3).map(i =>
        Ev("k", new Timestamp(base + h * hour + i * 60000L),
          ((h * 37 + i * 13) % 500).toLong))
    }
    val pre = mk(0 until 26)   // fills the 24-ring, judges h24, h25
    val post = mk(Seq(36, 37)) // resumes after a 10-hour quiet gap
    val input = MemoryStream[Ev](spark)
    val q = StreamingDrift.alarms(input.toDS())
      .writeStream.format("memory").queryName("drift_gap")
      .outputMode("append").start()
    try {
      input.addData(pre); q.processAllAvailable()
      input.addData(post); q.processAllAvailable()
      // sentinel closes the post-gap buckets; its own bucket is never judged
      input.addData(Seq(Ev("k", new Timestamp(base + 1000 * hour), 0L)))
      q.processAllAvailable()
      val streamed = spark.table("drift_gap").as[Alarm].collect()
        .map(a => (a.window_start_ms, a.n_events, a.mean_mv, a.base_mean, a.alarm))
        .toSet
      // independent batch formulation of q145's row frame on the same rows
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      val m = (pre ++ post).toDS()
        .select(unix_millis(col("ts")).as("ms"), col("mv"))
        .withColumn("ws", col("ms") - pmod(col("ms"), lit(hour)))
        .groupBy("ws").agg(count(lit(1)).as("n"), sum("mv").as("s"),
          sum(col("mv") * col("mv")).as("s2"))
      val w = Window.orderBy("ws").rowsBetween(-24, -1)
      val expected = m
        .withColumn("bw", count(lit(1)).over(w))
        .withColumn("bn", sum("n").over(w))
        .withColumn("bs", sum("s").over(w))
        .withColumn("bs2", sum("s2").over(w))
        .filter(col("bw") === 24)
        .select(col("ws"), col("n"),
          (d(col("s")) / d(col("n"))).as("mean"),
          (d(col("bs")) / d(col("bn"))).as("baseMean"),
          (abs(d(col("s")) / d(col("n")) - d(col("bs")) / d(col("bn"))) >
            lit(3.0) * sqrt(((d(col("bs2")) -
              d(col("bs")) * d(col("bs")) / d(col("bn"))) /
              d(col("bn") - 1)) / d(col("n")))).as("alarm"))
        .as[(Long, Long, Double, Double, Boolean)].collect().toSet
      // judged set spans the gap: h24, h25, then h36, h37 against the
      // PRE-GAP baseline — a dropped ring would lose the last two.
      // Buckets align to EPOCH hours, so anchor at base's floor-hour.
      val b0 = base - base % hour
      assert(expected.map(_._1) ==
        Set(b0 + 24 * hour, b0 + 25 * hour, b0 + 36 * hour, b0 + 37 * hour))
      assert(streamed == expected)
    } finally q.stop()
  }

  test("StreamingJob drains the fixture (AvailableNow) and a re-run is checkpoint-idempotent") {
    val out = java.nio.file.Files.createTempDirectory("sjout").toString + "/sessions"
    val ckpt = java.nio.file.Files.createTempDirectory("sjckpt").toString
    val q = graft.jobs.StreamingJob.start(
      spark, "fixtures/ga/enriched", out, ckpt, watermark = "1 second")
    q.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0, "expected finalized sessions in the sink")
    // re-run with the same checkpoint: no new input -> no double append
    // (the defect DailyJob reproduces faithfully is fixed here)
    val q2 = graft.jobs.StreamingJob.start(
      spark, "fixtures/ga/enriched", out, ckpt, watermark = "1 second")
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == n1)
  }

  test("StreamingIngestJob streams raw records to the enriched zone, " +
    "date-partitioned, checkpoint-idempotent") {
    val out = java.nio.file.Files.createTempDirectory("siout").toString + "/enriched"
    val ckpt = java.nio.file.Files.createTempDirectory("sickpt").toString
    // the fixture dir also holds concatenated.json (the S6 framing
    // fixture) and file streams need a directory — stage a raw zone
    // holding only the Firehose records file
    val rawZone = java.nio.file.Files.createTempDirectory("siraw")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("fixtures/ga/raw/records.jsonl"),
      rawZone.resolve("records.jsonl"))
    val q = graft.jobs.StreamingIngestJob.start(
      spark, rawZone.toString, SparkEntry.GeoRanges, out, ckpt)
    q.awaitTermination()
    val enriched = spark.read.parquet(out)
    val nRaw = spark.read.schema(graft.jobs.StreamingIngestJob.rawSchema)
      .json("fixtures/ga/raw/records.jsonl").count()
    assert(enriched.count() == nRaw, "every raw record lands enriched")
    // the streamed expressions are the batch ingest: decode+anonymize+parse
    assert(enriched.filter(col("body_cid").isNotNull).count() > 0)
    assert(enriched.filter(col("ip").endsWith(".0") ||
      col("ip").endsWith(":0000")).count() == nRaw, "all IPs anonymized")
    assert(enriched.filter(col("device_client_name").isNotNull).count() > 0)
    assert(enriched.filter(col("geo_country").isNotNull).count() > 0)
    // date-partitioned layout (the reference's year=/month=/day= zone)
    assert(enriched.inputFiles.forall(f =>
      f.contains("year=") && f.contains("month=") && f.contains("day=")))
    // re-run with the same checkpoint: no new input -> no double append
    val q2 = graft.jobs.StreamingIngestJob.start(
      spark, rawZone.toString, SparkEntry.GeoRanges, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == nRaw)
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap and timeout") {
    val base = 1700000000000L
    val input = MemoryStream[Ev](spark)
    val q = StreamingSessionize.withCustomState(input.toDS())
      .writeStream.format("memory").queryName("st_out").outputMode("append").start()
    try {
      // two sessions for user 1 in one batch: second starts after the gap
      input.addData(ev(1, base), ev(1, base + 1000), ev(1, base + Gap + 2000))
      q.processAllAvailable()
      // the first session closes inline (gap exceeded within the batch)
      val afterBatch1 = spark.table("st_out").collect()
      assert(afterBatch1.exists(r => r.getLong(0) == 1 &&
        r.getLong(1) == base && r.getLong(2) == base + 1000 && r.getLong(3) == 2))
      // advance watermark so the open session times out
      input.addData(ev(99, base + 10 * Gap))
      q.processAllAvailable()
      input.addData(ev(99, base + 20 * Gap))
      q.processAllAvailable()
      val rows = spark.table("st_out").collect()
      assert(rows.exists(r => r.getLong(0) == 1 &&
        r.getLong(1) == base + Gap + 2000 && r.getLong(3) == 1),
        s"got: ${rows.mkString(";")}")
    } finally q.stop()
  }
}
