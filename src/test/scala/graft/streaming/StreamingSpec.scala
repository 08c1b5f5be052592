package graft.streaming

import graft.TestSpark
import graft.pipeline.Connectors
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Live Structured Streaming execution of the E41-E46 operators: the same
  * transforms the batch oracle checks (StreamQueries), driven through
  * MemoryStream micro-batches so watermark advancement, append-mode window
  * emission, stateful dedup, and foreachBatch sinks actually run. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("windowed Misra-Gries sketch runs LIVE: per-window state is the fixed buffer (E141)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    // The batch-oracle'd single-agg shape (q158) under a real stream:
    // the sketch buffer is streaming aggregation state, merged across
    // micro-batches by the same PODS rule the map-side partials use.
    val q = graft.operators.SketchOps.windowedSketch(
        mem.toDF(), "ts", "event_type", "10 minutes", capacity = 8)
      .writeStream.outputMode("update")
      .format("memory").queryName("wsketch_out").start()
    def rows() = spark.table("wsketch_out")
      .select($"window_start", $"value", $"est", $"err_max")
      .as[(Timestamp, String, Long, Long)].collect().toSet
    try {
      mem.addData(Ev(ts(1), 1, "a", 1.0), Ev(ts(5), 2, "a", 1.0), Ev(ts(7), 3, "b", 1.0))
      q.processAllAvailable()
      assert(rows().contains((ts(0), "a", 2L, 0L)))
      assert(rows().contains((ts(0), "b", 1L, 0L)))
      // A second micro-batch UPDATES the same window's sketch state —
      // the count continues from 2, it does not restart.
      mem.addData(Ev(ts(8), 4, "a", 1.0), Ev(ts(11), 5, "c", 1.0))
      q.processAllAvailable()
      assert(rows().contains((ts(0), "a", 3L, 0L)),
        s"cross-batch sketch state must accumulate: ${rows()}")
      assert(rows().contains((ts(10), "c", 1L, 0L)))
    } finally q.stop()
  }

  test("tumbling window agg over a stream emits closed windows (E41+E43)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.tumblingAgg(
      StreamingOps.withLateDataDrop(mem.toDF(), "ts", "10 minutes"), "ts", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("tumbling_out").start()
    try {
      mem.addData(Ev(ts(1), 1, "a", 1.0), Ev(ts(5), 1, "a", 2.0), Ev(ts(12), 2, "b", 3.0))
      q.processAllAvailable()
      // watermark now 12-10=2min → no window closed yet
      mem.addData(Ev(ts(35), 1, "a", 4.0)) // watermark → 25min: closes [0,10) and [10,20)
      q.processAllAvailable()
      val out = spark.table("tumbling_out")
        .select($"window_start", $"event_type", $"n", $"sum_value").as[(Timestamp, String, Long, Double)]
        .collect().toSet
      assert(out.contains((ts(0), "a", 2L, 3.0)))
      assert(out.contains((ts(10), "b", 1L, 3.0)))
    } finally q.stop()
  }

  test("late event beyond the watermark is dropped (E43)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamingOps.tumblingAgg(
      StreamingOps.withLateDataDrop(mem.toDF(), "ts", "10 minutes"), "ts", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      mem.addData(Ev(ts(5), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(60), 1, "a", 1.0)) // watermark → 50min
      q.processAllAvailable()
      mem.addData(Ev(ts(6), 1, "a", 99.0)) // late: window [0,10) already closed
      q.processAllAvailable()
      mem.addData(Ev(ts(120), 1, "a", 1.0)) // close everything else
      q.processAllAvailable()
      val w0 = spark.table("late_out").filter($"window_start" === ts(0))
        .select($"sum_value").as[Double].collect().toSeq
      assert(w0 == Seq(1.0)) // the 99.0 late event never contributed
    } finally q.stop()
  }

  test("stateful dedup within watermark drops re-deliveries (E44)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dedup = StreamingOps.dedupWithinWatermark(mem.toDF(), "ts", "30 minutes", "user_id", "event_type")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 1, "click", 3.0), Ev(ts(4), 2, "click", 4.0))
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n == 2L) // one per (user, type): (1,click) and (2,click)
    } finally q.stop()
  }

  test("session window groups by inactivity gap (E42)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val sess = StreamingOps.sessionAgg(
      StreamingOps.withLateDataDrop(mem.toDF(), "ts", "5 minutes"), "ts", "30 minutes")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("session_out").start()
    try {
      // two sessions for user 1: [0-10] and [60-61]; close via watermark
      mem.addData(Ev(ts(0), 1, "a", 1.0), Ev(ts(10), 1, "a", 1.0), Ev(ts(60), 1, "a", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(300), 9, "z", 0.0)) // advance watermark far ahead
      q.processAllAvailable()
      val out = spark.table("session_out")
        .filter($"user_id" === 1)
        .select($"session_start", $"n_events").as[(Timestamp, Long)].collect().toSet
      assert(out == Set((ts(0), 2L), (ts(60), 1L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries per-key state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.EventKey]
    val q = StreamingOps.runningSeq(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("seq_out").start()
    try {
      // Batch 1: user 1 gets seq 1..2, user 2 gets seq 1.
      mem.addData(
        StreamingOps.EventKey(10L, ts(1), 1L),
        StreamingOps.EventKey(11L, ts(2), 1L),
        StreamingOps.EventKey(20L, ts(1), 2L))
      q.processAllAvailable()
      // Batch 2: numbering must CONTINUE from batch 1's state (3, not 1) —
      // the property no per-batch window function can provide.
      mem.addData(
        StreamingOps.EventKey(12L, ts(3), 1L),
        StreamingOps.EventKey(21L, ts(2), 2L))
      q.processAllAvailable()
      val out = spark.table("seq_out")
        .as[StreamingOps.SeqOut].collect().map(r => (r.user_id, r.event_id) -> r.seq).toMap
      assert(out == Map(
        (1L, 10L) -> 1L, (1L, 11L) -> 2L, (1L, 12L) -> 3L,
        (2L, 20L) -> 1L, (2L, 21L) -> 2L))
    } finally q.stop()
  }

  test("streaming funnel advances per-user stage across micro-batches, never regresses") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.TypedFunnelEvent
    val mem = MemoryStream[TypedFunnelEvent]
    val q = StreamingOps.streamingFunnelStages(
      mem.toDS(), Seq("view", "click", "purchase"))
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try {
      // Batch 1: user 1 views; user 2 clicks WITHOUT a view (no advance).
      mem.addData(
        TypedFunnelEvent(10L, ts(1), 1L, "view"),
        TypedFunnelEvent(20L, ts(1), 2L, "click"))
      q.processAllAvailable()
      // Batch 2: user 1's click lands in a LATER batch — the stage must
      // CONTINUE from the stored state (the cross-batch property no
      // per-batch groupBy can provide); user 2 finally views.
      mem.addData(
        TypedFunnelEvent(11L, ts(2), 1L, "click"),
        TypedFunnelEvent(21L, ts(2), 2L, "view"))
      q.processAllAvailable()
      // Batch 3: user 1 completes; user 2 sends noise (stage holds).
      mem.addData(
        TypedFunnelEvent(12L, ts(3), 1L, "purchase"),
        TypedFunnelEvent(22L, ts(3), 2L, "error"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out")
        .as[StreamingOps.FunnelOut].collect()
      // Latest emission per user wins (Update-style progress convention).
      val stages = rows.groupBy(_.user_id).view
        .mapValues(_.map(_.stage).max).toMap
      assert(stages == Map(1L -> 3, 2L -> 1), rows.toSeq)
      // Per-batch trail for user 1: 1 (view) -> 2 (click) -> 3 (purchase).
      assert(rows.filter(_.user_id == 1L).map(_.stage).sorted.toSeq == Seq(1, 2, 3))
    } finally q.stop()
  }

  /** Poll until `cond` holds. Processing-time timeouts/TTL make the
    * micro-batch engine schedule batches unconditionally (timers may
    * fire any time → `shouldRunAnotherBatch` is always true), so
    * `noNewData` never latches and `processAllAvailable()` would block
    * forever — timer-driven tests must poll observable effects instead. */
  private def awaitUntil(what: String, deadlineMs: Long = 60000L)(
      cond: => Boolean): Unit = {
    val end = System.currentTimeMillis + deadlineMs
    while (!cond && System.currentTimeMillis < end) Thread.sleep(50)
    assert(cond, s"not observed within ${deadlineMs} ms: $what")
  }

  test("streaming funnel idle-timeout drops state; a late event restarts at stage 0") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.TypedFunnelEvent
    val mem = MemoryStream[TypedFunnelEvent]
    val q = StreamingOps.streamingFunnelStages(
      mem.toDS(), Seq("view", "click", "purchase"),
      idleTimeout = Some(java.time.Duration.ofMillis(300)))
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_ttl_out").start()
    def stages(uid: Long) = spark.table("funnel_ttl_out")
      .as[StreamingOps.FunnelOut].collect()
      .filter(_.user_id == uid).map(_.stage).sorted.toSeq
    try {
      // User 1 reaches stage 1 and the 300 ms idle clock starts.
      mem.addData(TypedFunnelEvent(10L, ts(1), 1L, "view"))
      awaitUntil("user 1 at stage 1")(stages(1L) == Seq(1))
      // The engine keeps running timer batches; once user 1's timeout
      // fires the state row is dropped — observable as numRowsTotal 0.
      awaitUntil("idle state row dropped") {
        val p = q.lastProgress
        p != null && p.stateOperators.nonEmpty &&
          p.stateOperators.map(_.numRowsTotal).sum == 0L
      }
      // User 1 returns with the SECOND funnel step. Had state survived
      // this would advance to 2; expired state restarts the funnel, and
      // "click" is not step 1, so the stage is 0.
      mem.addData(TypedFunnelEvent(11L, ts(3), 1L, "click"))
      awaitUntil("post-expiry restart at stage 0")(stages(1L) == Seq(0, 1))
    } finally q.stop()
  }

  test("transformWithState per-variable TTL expires an idle profile") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.TypedEvent]
    val q = StreamingOps.runningStats(
      mem.toDS(), ttl = Some(java.time.Duration.ofMillis(300)))
      .writeStream.outputMode("update").format("memory")
      .queryName("tws_ttl_out").start()
    def stats() = spark.table("tws_ttl_out")
      .as[StreamingOps.UserStats].collect().toSet
    try {
      mem.addData(
        StreamingOps.TypedEvent(1L, "a", 1.0),
        StreamingOps.TypedEvent(1L, "b", 5.0))
      awaitUntil("pre-expiry profile (2 events, 2 types, max 5.0)")(
        stats().contains(StreamingOps.UserStats(1L, 2L, 2, 5.0)))
      // Let all three state variables (count, type map, max) pass their
      // TTL, then send one more event: it must read absent state and
      // start a fresh profile — n_events 1 (not 3), one type (not
      // three), max 3.0 (not 5.0).
      Thread.sleep(800)
      mem.addData(StreamingOps.TypedEvent(1L, "c", 3.0))
      awaitUntil("post-expiry profile restarts fresh") {
        val s = stats()
        assert(!s.contains(StreamingOps.UserStats(1L, 3L, 3, 5.0)),
          s"TTL did not expire the profile: $s")
        s.contains(StreamingOps.UserStats(1L, 1L, 1, 3.0))
      }
    } finally q.stop()
  }

  test("stream-stream interval join matches pairs within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val joined = StreamingOps.intervalJoin(
      purchases.toDF().toDF("purchase_id", "user_id", "p_ts").withWatermark("p_ts", "10 minutes"),
      "p_ts",
      clicks.toDF().toDF("click_id", "user_id", "c_ts").withWatermark("c_ts", "10 minutes"),
      "c_ts",
      Seq("user_id"), "1 HOUR")
      .select($"purchase_id", $"click_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      clicks.addData((100L, 1L, ts(10)), (101L, 1L, ts(50)), (102L, 2L, ts(10)))
      purchases.addData((1L, 1L, ts(60)))   // clicks 100 (50 min ago) + 101 (10 min ago) match
      purchases.addData((2L, 1L, ts(200)))  // nothing within the hour
      q.processAllAvailable()
      val out = spark.table("ssj_out").as[(Long, Long)].collect().toSet
      assert(out == Set((1L, 100L), (1L, 101L)))
    } finally q.stop()
  }

  test("checkpoint recovery: restart resumes offsets and aggregation state") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types._
    val srcDir = Files.createTempDirectory("ckpt_src").toString
    val ckpt = Files.createTempDirectory("ckpt_state").toString
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType)))

    def startQuery(name: String) =
      spark.readStream.schema(schema).parquet(srcDir)
        .groupBy($"event_type").count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(name).start()

    // Batch 1 → 3 a's, 1 b.
    Seq((ts(1), "a"), (ts(2), "a"), (ts(3), "a"), (ts(4), "b"))
      .toDF("ts", "event_type").write.mode(SaveMode.Append).parquet(srcDir)
    val q1 = startQuery("ckpt_run1")
    try {
      q1.processAllAvailable()
      val c1 = spark.table("ckpt_run1").as[(String, Long)].collect().toMap
      assert(c1 == Map("a" -> 3L, "b" -> 1L))
    } finally q1.stop()

    // Crash/restart simulation: new query, SAME checkpoint. Batch 2 lands
    // while the query is down.
    Seq((ts(5), "a"), (ts(6), "c"))
      .toDF("ts", "event_type").write.mode(SaveMode.Append).parquet(srcDir)
    val q2 = startQuery("ckpt_run2")
    try {
      q2.processAllAvailable()
      val c2 = spark.table("ckpt_run2").as[(String, Long)].collect().toMap
      // Counts CONTINUE from recovered state (batch-1 files are not
      // re-processed — source offsets came from the checkpoint — yet their
      // counts survive in the state store).
      assert(c2 == Map("a" -> 4L, "b" -> 1L, "c" -> 1L))
    } finally q2.stop()
  }

  test("stream-static enrichment joins each micro-batch to a broadcast dim (E69)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "alice"), (2L, "bob")).toDF("user_id", "name")
    val mem = MemoryStream[Ev]
    val q = StreamingOps.enrichStatic(mem.toDF(), dim, Seq("user_id"))
      .select($"user_id", $"event_type", $"name")
      .writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try {
      mem.addData(Ev(ts(1), 1, "a", 1.0), Ev(ts(2), 3, "b", 2.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .as[(Long, String, Option[String])].collect().toSet
      assert(out == Set((1L, "a", Some("alice")), (3L, "b", None)),
        "left join must keep unmatched stream rows with null attributes")
    } finally q.stop()
  }

  test("idempotent foreachBatch: an epoch replay overwrites, never duplicates (E70)") {
    implicit val sqlCtx = spark.sqlContext
    val dst = Files.createTempDirectory("graft_stream_idem")
    val sink = Connectors.IdempotentParquetSink(dst.toString)
    val mem = MemoryStream[Ev]
    val q = StreamingOps.foreachBatchIdempotent(mem.toDF().writeStream, sink, "ev").start()
    try {
      mem.addData(Ev(ts(1), 1, "a", 1.0), Ev(ts(2), 2, "b", 2.0))
      q.processAllAvailable() // epoch 0
      mem.addData(Ev(ts(3), 3, "c", 3.0))
      q.processAllAvailable() // epoch 1
      assert(spark.read.parquet(s"$dst/ev").count() == 3L)
      // At-least-once redelivery of epoch 1 (failure between sink write and
      // checkpoint commit): the same epoch token must REPLACE its earlier
      // write, not append a duplicate.
      sink.writeBatch(
        Seq((ts(3), 3L, "c", 3.0)).toDF("ts", "user_id", "event_type", "value"),
        "ev", "epoch1")
      assert(spark.read.parquet(s"$dst/ev").count() == 3L,
        "epoch replay must overwrite its own partition")
    } finally q.stop()
  }

  test("streaming ingest dedup: ledger drops cross-batch duplicates, keeps new docs (E85)") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_dedup")
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val ledger = s"$base/ledger"
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.foreachBatchLedgerDedup(
      mem.toDF().toDF("doc_id", "text").writeStream,
      "text", "doc_id", ledger, sink, "docs").start()
    try {
      // Batch 0: one within-batch duplicate (min doc_id wins).
      mem.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      // Batch 1: re-sends beta (already ledgered), adds gamma.
      mem.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out/docs")
        .select($"doc_id", $"text").as[(Long, String)].collect().toSet
      assert(out == Set((1L, "alpha"), (2L, "beta"), (5L, "gamma")),
        "corpus must hold exactly one copy of each distinct text")
    } finally q.stop()
  }

  test("streaming span flagging: ledger surfaces cross-epoch duplicate spans, replay is exact") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_spans")
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val ledger = s"$base/ledger"
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.foreachBatchLedgerSpans(
      mem.toDF().toDF("doc_id", "text").writeStream,
      "text", "doc_id", ledger, sink, "flags", spanTokens = 5).start()
    try {
      // Batch 0: no span repeats across its two docs — zero flags.
      mem.addData(
        (1L, "the shared legal header text plus body one"),
        (2L, "completely unrelated first epoch content words"))
      q.processAllAvailable()
      // Batch 1: reuses batch 0's header — flags via the LEDGER (a
      // batch-local pass sees one doc and stays silent).
      mem.addData((3L, "intro words the shared legal header text trailing"))
      q.processAllAvailable()
      def flags() = spark.read.parquet(s"$base/out/flags")
        .select($"doc_id", $"start_tok", $"n_docs")
        .as[(Long, Int, Long)].collect().toSet
      assert(flags() == Set((3L, 2, 2L)),
        s"cross-epoch header span must flag once, got ${flags()}")
      // At-least-once redelivery of epoch 1: same batch, same token —
      // identical flags (own-epoch counts excluded), idempotent sink
      // lands on itself.
      val pending = graft.operators.DedupOps.incrementalSpans(
        spark,
        Seq((3L, "intro words the shared legal header text trailing"))
          .toDF("doc_id", "text"),
        "text", "doc_id", ledger, spanTokens = 5, epochToken = Some("epoch1"))
      sink.writeBatch(pending.flags, "flags", "epoch1")
      pending.commitLedger()
      assert(flags() == Set((3L, 2, 2L)),
        "a replayed epoch must reproduce identical flags, not double-count")
    } finally q.stop()
  }

  test("streaming NEAR-dup ingest: band-ledger collisions drop, epoch replay is exact") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_neardup")
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val ledger = s"$base/ledger"
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.foreachBatchLedgerNeardup(
      mem.toDF().toDF("doc_id", "text").writeStream,
      "text", "doc_id", ledger, sink, "docs").start()
    try {
      // Batch 0: an in-batch near-dup pair (identical text collides in
      // every band) keeps the min id.
      mem.addData(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "one two three four five six seven"),
        (3L, "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      // Batch 1: a near-dup of doc 1 (cross-EPOCH, via the ledger) drops;
      // fresh prose survives.
      mem.addData(
        (4L, "alpha beta gamma delta epsilon zeta"),
        (5L, "totally fresh words appearing nowhere else"))
      q.processAllAvailable()
      def corpus() = spark.read.parquet(s"$base/out/docs")
        .select($"doc_id").as[Long].collect().toSet
      assert(corpus() == Set(1L, 2L, 5L))
      // At-least-once redelivery of epoch 1 (crash between sink write and
      // checkpoint commit): replaying the SAME batch with the SAME token
      // must land on itself — the epoch-partitioned ledger excludes the
      // batch's own buckets, so doc 5 is not "a near-dup of itself".
      val pending = graft.operators.LshOps.incrementalNeardup(
        spark,
        Seq((4L, "alpha beta gamma delta epsilon zeta"),
          (5L, "totally fresh words appearing nowhere else")).toDF("doc_id", "text"),
        "text", "doc_id", ledger, epochToken = Some("epoch1"))
      sink.writeBatch(pending.survivors, "docs", "epoch1")
      pending.commitLedger()
      assert(corpus() == Set(1L, 2L, 5L), "epoch replay must be exactly-once")
    } finally q.stop()
  }

  test("streaming PQ ingest: each epoch encodes against the pinned model, replay is exact") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_pq")
    val store = s"$base/pq"
    // The pinned store: a full build over "yesterday's corpus".
    def vec(i: Long): Array[Double] = Array.tabulate(8)(d => (i * 7 + d).toDouble % 5)
    val corpus = (0L to 9L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // Round 14: a REFINEMENT store — the drain must keep BOTH code
    // levels complete per epoch (a stage-1-only append would leave ids
    // the E148 re-rank's decode-join guard refuses).
    graft.operators.PqOps.writePqArtifacts(spark, corpus, "embedding", "vec_id",
      store, m = 2, kCodes = 4, iters = 1, coarseK = 2, coarseIters = 1,
      refineM = 4, refineK = 4)
    val pinned = graft.operators.PqOps.readPqArtifacts(spark, store)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.foreachBatchLedgerPqEncode(
      mem.toDF().toDF("vec_id", "embedding").writeStream,
      "embedding", "vec_id", store).start()
    try {
      // Two micro-batches of NEW ids: each must land in its own epoch,
      // encoded against the PINNED codebooks (never a re-fit).
      mem.addData((10L, vec(10).toSeq), (11L, vec(11).toSeq))
      q.processAllAvailable()
      mem.addData((12L, vec(12).toSeq))
      q.processAllAvailable()
      def stored() = spark.read.parquet(s"$store/codes")
        .select($"vec_id", $"sub", $"code", $"dist")
        .as[(Long, Int, Int, Double)].collect().toSet
      val expect = graft.operators.PqOps.encode(
        (0L to 12L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        "embedding", "vec_id", pinned.model)
        .select($"vec_id", $"sub", $"code", $"dist")
        .as[(Long, Int, Int, Double)].collect().toSet
      assert(stored() == expect,
        "lifetime codes must equal the whole corpus encoded against the pinned model")
      // At-least-once redelivery of epoch 1 (crash between the dynamic
      // overwrite and the checkpoint commit): the same batch under the
      // same token overwrites its own partitions with identical codes.
      graft.operators.PqOps.incrementalPqEncode(
        spark, Seq((12L, vec(12).toSeq)).toDF("vec_id", "embedding"),
        "embedding", "vec_id", store, "epoch1").commitLedger()
      assert(stored() == expect, "epoch replay must be exactly-once")
      val epochs = spark.read.parquet(s"$store/codes")
        .select($"_graft_epoch").distinct().as[String].collect().toSet
      assert(epochs == Set("base", "epoch0", "epoch1"), epochs.toString)
      // The refinement level stayed complete through every epoch: same
      // id set as the codes, m2 = 4 rows per id, same epoch layout —
      // so the E148 two-stage search serves streamed ids too.
      val rEpochs = spark.read.parquet(s"$store/rcodes")
        .select($"_graft_epoch").distinct().as[String].collect().toSet
      assert(rEpochs == epochs, rEpochs.toString)
      val rIds = spark.read.parquet(s"$store/rcodes")
        .groupBy($"vec_id").count().as[(Long, Long)].collect().toMap
      assert(rIds.keySet == (0L to 12L).toSet && rIds.values.forall(_ == 4L),
        s"rcodes incomplete: $rIds")
      val arts2 = graft.operators.PqOps.readPqArtifacts(spark, store)
      val queries = Seq((12L, vec(12).toSeq)).toDF("qid", "embedding")
      val hits = graft.operators.PqOps.searchArtifactsRefined(
        arts2, "vec_id", queries, "qid", "embedding",
        topR = 4, topN = 2, nprobe = 2)
      assert(hits.count() == 2, "streamed ids must be re-rankable from codes")
    } finally q.stop()
  }

  test("checkpoint reset against a kept ledger is refused, not silently overwritten") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_foreign")
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val ledger = s"$base/ledger"
    // A prior run committed epochs 0 and 1 into the ledger...
    Seq(("epoch0", 1L, "alpha beta gamma delta epsilon zeta"),
      ("epoch1", 2L, "one two three four five six seven")).foreach { case (tok, id, txt) =>
      graft.operators.LshOps.incrementalNeardup(
        spark, Seq((id, txt)).toDF("doc_id", "text"), "text", "doc_id", ledger, epochToken = Some(tok))
        .commitLedger()
    }
    // ...then the checkpoint was lost: a fresh query restarts batchIds at 0,
    // and its epoch0 would dynamic-partition-overwrite the committed corpus
    // epoch0 — readmitting that epoch's near-dups forever after. The guard
    // must kill the query loudly instead.
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.foreachBatchLedgerNeardup(
      mem.toDF().toDF("doc_id", "text").writeStream,
      "text", "doc_id", ledger, sink, "docs").start()
    try {
      mem.addData((9L, "totally fresh words appearing nowhere else"))
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("checkpoint was reset or relocated"),
        s"expected the foreign-epoch refusal, got:\n$msgs")
      // Nothing was overwritten: both committed epochs still hold buckets.
      val epochs = spark.read.parquet(ledger)
        .select($"_graft_epoch").distinct().as[String].collect().toSet
      assert(epochs == Set("epoch0", "epoch1"))
    } finally q.stop()
  }

  test("checkpoint reset against a FOLDED ledger is refused via the fold marker") {
    // E152 (round 15): after a fold the committed epochs' directories are
    // gone (merged into base), so the directory-based reset guard above
    // is blind to them — the fold marker is the durable witness. A fresh
    // query restarting at batch 0 against a ledger folded through epoch5
    // would re-add already-based rows; it must die loudly instead.
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_stream_folded")
    val sink = Connectors.IdempotentParquetSink(s"$base/out")
    val ledger = s"$base/ledger"
    graft.operators.LshOps.incrementalNeardup(
      spark, Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "text", "doc_id", ledger, epochToken = Some("epoch5"))
      .commitLedger()
    graft.operators.MaintenanceOps.foldEpochs(
      spark, ledger, graft.operators.Ledger.MinhashBands, upToBatchId = 5L)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingOps.foreachBatchLedgerNeardup(
      mem.toDF().toDF("doc_id", "text").writeStream,
      "text", "doc_id", ledger, sink, "docs").start()
    try {
      mem.addData((9L, "totally fresh words appearing nowhere else"))
      val e = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("folded epochs through epoch5"),
        s"expected the fold-marker refusal, got:\n$msgs")
    } finally q.stop()
  }

  test("transformWithState: typed state persists across micro-batches (E86)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingOps.TypedEvent]
    val q = StreamingOps.runningStats(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("tws_out").start()
    try {
      mem.addData(
        StreamingOps.TypedEvent(1L, "a", 1.0),
        StreamingOps.TypedEvent(1L, "b", 5.0),
        StreamingOps.TypedEvent(2L, "a", 2.0))
      q.processAllAvailable()
      // Batch 2: user 1's count/types/max must CONTINUE from batch 1.
      mem.addData(StreamingOps.TypedEvent(1L, "a", 3.0))
      q.processAllAvailable()
      val last = spark.table("tws_out")
        .as[StreamingOps.UserStats].collect()
        .groupBy(_.user_id).map { case (k, v) => (k, v.maxBy(_.n_events)) }
      assert(last(1L) == StreamingOps.UserStats(1L, 3L, 2, 5.0),
        "state (count, type map, max) must carry across micro-batches")
      assert(last(2L) == StreamingOps.UserStats(2L, 1L, 1, 2.0))
    } finally q.stop()
  }

  test("foreachBatch bridges a stream into a pipeline Sink (E46)") {
    implicit val sqlCtx = spark.sqlContext
    val dst = Files.createTempDirectory("graft_stream_sink")
    val mem = MemoryStream[Ev]
    val writer = StreamingOps.foreachBatchSink(
      mem.toDF().writeStream, Connectors.ParquetSink(dst.toString), "events_out")
    val q = writer.start()
    try {
      mem.addData(Ev(ts(1), 1, "a", 1.0), Ev(ts(2), 2, "b", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(ts(3), 3, "c", 3.0))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dst/events_out").count() == 3L)
    } finally q.stop()
  }
}
