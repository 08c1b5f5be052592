package graft.streaming

import graft.pipeline.{IdempotentSink, Sink, StateStore}
import java.util.concurrent.{CompletionException, Executors}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.Row

/** Structured Streaming operator surface (SURVEY §2.3 E41-E46).
  *
  * Each transform takes and returns a DataFrame, so the same function works
  * on a batch frame (for the DuckDB oracle, see
  * [[graft.queries.StreamQueries]]) and on a `readStream` frame (exercised
  * live by `StreamingSpec` with MemoryStream). Watermarks bound state: at
  * scale, the windowed aggregations keep only open windows in the state
  * store and drop data older than the configured delay (E43).
  */
object StreamingOps {

  /** E41 tumbling-window counts + sums per event type. */
  def tumblingAgg(df: DataFrame, tsCol: String, dur: String): DataFrame =
    df.groupBy(window(col(tsCol), dur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** E42 session windows per user (gap-based). */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String): DataFrame =
    df.groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** E43 watermark: bound state and drop data older than `delay`. */
  def withLateDataDrop(df: DataFrame, tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)

  /** E44 stateful dedup on key columns, state bounded by the watermark. */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String, keys: String*): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** E46 foreachBatch bridge into any [[graft.pipeline.Sink]] — the
    * streaming analogue of the reference's batched INSERT loop
    * (`/root/reference/util.py:226-247`): each micro-batch is appended
    * through the connector (JDBC `batchsize` applies per executor task).
    */
  def foreachBatchSink(
      writer: DataStreamWriter[Row],
      sink: Sink,
      table: String): DataStreamWriter[Row] =
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink.write(batch, table, SaveMode.Append)
    }

  /** E69 stream-static enrichment join: decorate each (micro-batch of the)
    * stream with a STATIC reference frame, broadcast to every task — the
    * standard decorate-events-with-reference-data shape. No stream state
    * and no watermark requirement (the static side is not advancing), so
    * it composes freely with any downstream stateful operator. On batch
    * frames the same plan is a broadcast left join, which is what the q83
    * oracle checks.
    */
  def enrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** E70 idempotent foreachBatch: key each micro-batch write by its epoch
    * id through an [[IdempotentSink]], so the at-least-once redelivery of
    * an epoch (failure between sink write and checkpoint commit) REPLACES
    * its earlier partial write instead of appending it twice — the
    * streaming twin of CopyJob's batch-token protocol (hazard 2).
    */
  def foreachBatchIdempotent(
      writer: DataStreamWriter[Row],
      sink: IdempotentSink,
      table: String): DataStreamWriter[Row] =
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink.writeBatch(batch, table, s"epoch$batchId")
    }

  /** E85 streaming corpus ingest with cross-run exact dedup: every
    * micro-batch drops documents already in the persistent fingerprint
    * ledger, writes the survivors through the epoch-keyed idempotent sink,
    * THEN commits its fingerprints into the ledger's epoch partition —
    * [[graft.operators.Ledger]]'s replay-safe protocol. The dedup state is
    * the on-disk ledger (16 bytes/doc), not Spark's state store: it
    * survives checkpoint resets, is shared with batch ingests of the same
    * corpus, and — unlike `dropDuplicatesWithinWatermark` — is never aged
    * out by a watermark.
    */
  def foreachBatchLedgerDedup(
      writer: DataStreamWriter[Row],
      textCol: String,
      idCol: String,
      ledgerDir: String,
      sink: IdempotentSink,
      table: String): DataStreamWriter[Row] =
    ledgerDrain(writer, ledgerDir, Some((sink, table))) { (batch, token) =>
      val p = graft.operators.DedupOps.incrementalDedup(
        batch.sparkSession, batch, textCol, idCol, ledgerDir, Some(token))
      (p.survivors, p.stageLedger _)
    }

  /** Streaming duplicate-SPAN flagging with cross-run frequencies — the
    * span-ledger member of the foreachBatch family, built on
    * [[graft.operators.DedupOps.incrementalSpans]]: every
    * micro-batch's token windows are counted against the persistent
    * span-frequency ledger, positions whose span reaches `minDocs`
    * distinct documents across corpus history + batch are emitted as
    * (id, start_tok, n_docs) FLAG rows through the epoch-keyed idempotent
    * sink (the audit output a downstream scrub pass consumes), then the
    * batch's counts commit into the ledger's epoch partition. Replay-safe
    * under the same write-then-commit + own-epoch-exclusion protocol as
    * the dedup twins; same foreign-epoch checkpoint-reset guard. */
  def foreachBatchLedgerSpans(
      writer: DataStreamWriter[Row],
      textCol: String,
      idCol: String,
      ledgerDir: String,
      sink: IdempotentSink,
      table: String,
      spanTokens: Int = 8,
      minDocs: Int = 2): DataStreamWriter[Row] =
    ledgerDrain(writer, ledgerDir, Some((sink, table))) { (batch, token) =>
      val p = graft.operators.DedupOps.incrementalSpans(
        batch.sparkSession, batch, textCol, idCol, ledgerDir, spanTokens, minDocs, Some(token))
      (p.flags, p.stageLedger _)
    }

  /** Streaming corpus ingest with cross-run NEAR-dup (round 6) — the
    * band-ledger twin of [[foreachBatchLedgerDedup]]: every micro-batch is
    * MinHash-banded, docs colliding with the ledgered corpus buckets are
    * dropped (drop-on-collision, see
    * [[graft.operators.LshOps.incrementalNeardup]]), survivors write
    * through the epoch-keyed idempotent sink, THEN their buckets commit
    * into the ledger's epoch partition ([[graft.operators.Ledger]]'s
    * replay-safe protocol). Dedup state is `nBands` longs per corpus doc on disk —
    * shared with batch ingests, never aged out by a watermark, and the
    * corpus text is never re-read.
    */
  def foreachBatchLedgerNeardup(
      writer: DataStreamWriter[Row],
      textCol: String,
      idCol: String,
      ledgerDir: String,
      sink: IdempotentSink,
      table: String,
      shingleN: Int = 3): DataStreamWriter[Row] =
    ledgerDrain(writer, ledgerDir, Some((sink, table))) { (batch, token) =>
      val p = graft.operators.LshOps.incrementalNeardup(
        batch.sparkSession, batch, textCol, idCol, ledgerDir, shingleN = shingleN,
        epochToken = Some(token))
      (p.survivors, p.stageLedger _)
    }

  /** Streaming EMBEDDING ingest with cross-run near-dup (round 7) — the
    * vector twin of [[foreachBatchLedgerNeardup]], built on
    * [[graft.operators.SrpOps.incrementalNeardup]]: every micro-batch
    * is SRP-banded, collisions against the ledgered corpus are verified by
    * EXACT COSINE before dropping (an SRP bucket space is small by
    * construction — collision-only dropping would mass-purge on a full
    * corpus, see SrpOps scaladoc), survivors write through the epoch-keyed
    * idempotent sink, then their (band, bucket, vector) rows commit into
    * the ledger's epoch partition. Replay-safe under the same protocol as
    * the text twins; same foreign-epoch checkpoint-reset guard.
    */
  def foreachBatchLedgerNeardupVec(
      writer: DataStreamWriter[Row],
      vecCol: String,
      idCol: String,
      ledgerDir: String,
      sink: IdempotentSink,
      table: String,
      nBands: Int = 4,
      bitsPerBand: Int = 10,
      minCos: Double = 0.9): DataStreamWriter[Row] =
    ledgerDrain(writer, ledgerDir, Some((sink, table))) { (batch, token) =>
      val p = graft.operators.SrpOps.incrementalNeardup(
        batch.sparkSession, batch, vecCol, idCol, ledgerDir,
        nBands = nBands, bitsPerBand = bitsPerBand, minCos = minCos, epochToken = Some(token))
      (p.survivors, p.stageLedger _)
    }

  /** Streaming SEMANTIC ingest with cross-run SemDeDup (round 9) — the
    * cluster-space member of the ledger trio, built on
    * [[graft.operators.KmeansOps.incrementalSemantic]]: the FIRST
    * micro-batch fits the k-means model (deterministic smallest-id seed)
    * and pins it in the ledger; every later batch is assigned against the
    * PINNED centroids (never re-fit — a per-batch re-fit would relabel the
    * cluster space and orphan the ledger), dropped on a same-cluster
    * cosine ≥ minCos match against ledgered survivors, purged
    * keep-min-id within its own clusters, written through the epoch-keyed
    * idempotent sink, then committed into the ledger's epoch partition.
    * Replay-safe under the same protocol as the other three; the
    * `maxClusterForPairs` gauge fails a batch loudly when the pinned
    * model's clusters outgrow the pair bound (the re-fit signal).
    */
  def foreachBatchLedgerSemantic(
      writer: DataStreamWriter[Row],
      vecCol: String,
      idCol: String,
      ledgerDir: String,
      sink: IdempotentSink,
      table: String,
      k: Int = 8,
      iters: Int = 2,
      minCos: Double = 0.9,
      maxClusterForPairs: Long = 10000L): DataStreamWriter[Row] =
    ledgerDrain(writer, ledgerDir, Some((sink, table))) { (batch, token) =>
      val p = graft.operators.KmeansOps.incrementalSemantic(
        batch.sparkSession, batch, vecCol, idCol, ledgerDir, k, iters, minCos,
        maxClusterForPairs, Some(token))
      (p.survivors, p.stageLedger _)
    }

  /** Streaming PQ INGEST (round 14) — the code store's drain, putting
    * the ledger rule's seventh space (PQ codes, E143) under
    * `readStream` beside the six other drains: every micro-batch is
    * encoded against the PINNED codebooks + coarse quantizer —
    * residualized first when the store's construction pin says
    * `residual=true` (the formulation routing is
    * [[graft.operators.PqOps.incrementalPqEncode]]'s) — and committed
    * into its own `_graft_epoch=epoch<batchId>` × cell partitions by a
    * staged publish. Unlike the dedup drains there is no survivor
    * sink: the artifact store IS the product, and the deterministic
    * publish IS the exactly-once step (an at-least-once replay of a
    * crashed epoch replaces its own partition with bit-identical codes,
    * never duplicates). Same foreign-epoch
    * checkpoint-reset guard as the other drains, pointed at the codes
    * directory. */
  def foreachBatchLedgerPqEncode(
      writer: DataStreamWriter[Row],
      vecCol: String,
      idCol: String,
      storeDir: String): DataStreamWriter[Row] =
    ledgerDrain(writer, s"$storeDir/codes", None) { (batch, token) =>
      val p = graft.operators.PqOps.incrementalPqEncode(
        batch.sparkSession, batch, vecCol, idCol, storeDir, token)
      (p.codes, p.stageLedger _)
    }

  /** E95's streaming side — continuous training-data delivery: every
    * micro-batch exports as deterministic id-hash shards WITH the
    * order-independent manifest under its own `_graft_epoch=<batchId>`
    * directory, write-then-VERIFIED before the epoch commits (an epoch
    * whose files can't be re-derived from disk fails the batch instead of
    * poisoning the feed). Crash replay is idempotent for free: the epoch
    * token derives from the batchId, so a re-executed batch overwrites
    * exactly its own directory with identical content and an identical
    * manifest. Consumers re-check any epoch (or the whole tree,
    * [[graft.operators.ExportOps.verifyExportTree]]) after transfer. */
  def foreachBatchShardedExport(
      writer: DataStreamWriter[Row],
      outDir: String,
      idCol: String,
      contentCols: Seq[String],
      nShards: Int = 16,
      seed: Long = 7L): DataStreamWriter[Row] =
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val dir = s"$outDir/_graft_epoch=$batchId"
      graft.operators.ExportOps.shardedExport(
        batch, dir, idCol, contentCols, nShards, seed)
      graft.operators.ExportOps.verifyShards(
        batch.sparkSession, dir, idCol, contentCols, seed)
    }

  /** The one body of the `foreachBatchLedger*` drains: checkpoint-reset
    * guard, epoch token from the batch id, `prepare` (the space's epoch
    * ingest, returning its output and the stage of its commit), then
    * [[writeThenPublish]]. */
  private def ledgerDrain(
      writer: DataStreamWriter[Row],
      ledgerDir: String,
      out: Option[(IdempotentSink, String)])(
      prepare: (DataFrame, String) => (DataFrame, () => () => Unit)): DataStreamWriter[Row] =
    writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
      assertNoForeignEpochs(batch, ledgerDir, batchId)
      val token = s"epoch$batchId"
      val (rows, stage) = prepare(batch, token)
      writeThenPublish(rows, out, token, stage)
    }

  /** Writes `rows` through the sink of `out` as batch `token` while a
    * second driver thread runs `stage`, then runs the publish `stage`
    * returned: the epoch's two write jobs overlap, and its ledger
    * partition still appears only after the sink committed the epoch
    * ([[graft.operators.Ledger]]'s write-then-commit). The stage thread
    * carries this thread's session and local properties, so stopping the
    * query cancels its job too. When the write fails the stage is awaited,
    * nothing is published and the write's failure is thrown; when the
    * stage fails, its failure is thrown after the write. No job outlives
    * the call. Without a sink (the ledger is the product) it stages, then
    * publishes. */
  private[graft] def writeThenPublish(
      rows: DataFrame,
      out: Option[(IdempotentSink, String)],
      token: String,
      stage: () => () => Unit): Unit = out match {
    case None => stage()()
    case Some((sink, table)) =>
      val exec = Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, "graft-ledger-stage")
        t.setDaemon(true)
        t
      }
      try {
        val staged = ColumnBridge.onThread(rows.sparkSession, exec)(stage())
        // `join` waits even when this thread is interrupted.
        def awaitStage(): () => Unit =
          try staged.join() catch { case e: CompletionException => throw e.getCause }
        try sink.writeBatch(rows, table, token)
        catch { case e: Throwable =>
          try awaitStage() catch { case s: Throwable => e.addSuppressed(s) }
          throw e
        }
        awaitStage()()
      } finally exec.shutdown()
  }

  /** Checkpoint-reset guard for the epoch-keyed ledger ingests: epoch
    * tokens derive from the streaming batchId, and epoch N+1 only starts
    * after N's checkpoint commit — so a ledger holding an epoch AHEAD of
    * the current batch is impossible in a healthy run and is exactly the
    * signature of "checkpoint deleted/relocated while the ledger was
    * kept". Left undetected, the restarted query's batch 0 would
    * REPLACE the old epoch0 corpus buckets and
    * near-dups of the earliest corpus would silently re-enter. Refuse
    * loudly instead; an ordinary crash-replay (ledger holds epochs ≤ the
    * replayed batch) passes untouched. */
  private def assertNoForeignEpochs(batch: DataFrame, ledgerDir: String, batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = p.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val foreign = fs.listStatus(p).map(_.getPath.getName)
      .flatMap(graft.operators.MaintenanceOps.epochDirId(_))
      .filter(_ > batchId)
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"ledger at $ledgerDir already holds epoch${foreign.max} but this query is at " +
          s"batch $batchId — the streaming checkpoint was reset or relocated while the " +
          "ledger was kept, and continuing would overwrite committed corpus epochs " +
          "(silently readmitting their near-dups). Restore the original checkpoint or " +
          "rebuild the ledger.")
    // FOLDED epochs are invisible to the directory check above (their
    // partitions are gone — merged into base), but replaying one is just
    // as wrong: its rows live in base, so a re-run would ADD a second
    // copy instead of dynamically replacing its own partition. The fold
    // marker is the durable witness (E152, round 15).
    val mark = graft.operators.MaintenanceOps.foldedThrough(fs, p)
    if (mark >= batchId)
      throw new IllegalStateException(
        s"ledger at $ledgerDir has folded epochs through epoch$mark into base but " +
          s"this query is at batch $batchId — the streaming checkpoint was reset or " +
          "relocated after a fold, and replaying a folded epoch would duplicate its " +
          "rows in base. Restore the original checkpoint or rebuild the ledger.")
  }

  /** Stream-stream interval join: rows of `b` whose event time falls in
    * `[a.ts - range, a.ts]` for the same join keys. On streams BOTH sides
    * must carry watermarks (caller applies them) so Spark can bound the
    * join state and emit in append mode; on batch frames the same plan is
    * an equi shuffle join on the keys with a residual time filter — never a
    * pure range join, so it scales with the key cardinality.
    */
  def intervalJoin(
      a: DataFrame,
      aTs: String,
      b: DataFrame,
      bTs: String,
      keys: Seq[String],
      range: String): DataFrame =
    // Aliased sides + expr-condition: resolves the self-join ambiguity when
    // both frames filter the same source, and keeps the time constraint
    // INSIDE the join condition (required for streaming state cleanup).
    a.alias("l").join(b.alias("r"),
      expr(keys.map(k => s"l.$k = r.$k").mkString(" AND ") +
        s" AND r.$bTs >= l.$aTs - INTERVAL $range AND r.$bTs <= l.$aTs"),
      "inner")

  /** Input/output rows for the transformWithState operator below. */
  final case class TypedEvent(user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, n_events: Long, n_types: Int, max_value: Double)

  /** E86 modern arbitrary state via `transformWithState` (Spark 4's
    * successor to `flatMapGroupsWithState`): per-user running profile —
    * event count, distinct event-type count, running max — held in TYPED
    * state variables (`ValueState` + `MapState`) instead of one opaque
    * case-class blob. The practical difference at scale: each state
    * variable is a separate column family in the RocksDB state store, so
    * touching the two counters never deserializes the type map, and
    * per-variable TTL ages idle profiles out of the store (`ttl`: state
    * written more than that long ago reads as absent, so an expired
    * user's next event starts a fresh profile — without it the store
    * holds one row per user ever seen). Emits
    * one updated profile row per key per micro-batch (Update mode); on a
    * batch Dataset the same code runs with empty initial state, which
    * makes it DuckDB-oracle-checkable (q99).
    */
  def runningStats(
      ds: Dataset[TypedEvent],
      ttl: Option[java.time.Duration] = None): Dataset[UserStats] = {
    import ds.sparkSession.implicits._
    // Batch TWS resolves the StateStoreCoordinator endpoint that only a
    // streaming query would have created — create it up front (see the
    // bridge scaladoc for the underlying Spark behavior).
    org.apache.spark.sql.graftbridge.ColumnBridge
      .ensureStateStoreCoordinator(ds.sparkSession)
    // TTL is per state VARIABLE (the column-family advantage): an idle
    // user's counters/type-map expire `ttl` after their last write and
    // the next event starts a fresh profile — without it, one state row
    // per user EVER SEEN grows the store linearly forever. TTL requires
    // processing-time semantics; the default stays TimeMode.None so the
    // batch/oracle path (q99) is untouched.
    val timeMode = ttl.fold(TimeMode.None())(_ => TimeMode.ProcessingTime())
    ds.groupByKey(_.user_id)
      .transformWithState(
        new RunningStatsProcessor(ttl.fold(TTLConfig.NONE)(TTLConfig(_))),
        timeMode, OutputMode.Update())
  }

  private class RunningStatsProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, TypedEvent, UserStats] {
    @transient private var nEvents: ValueState[Long] = _
    @transient private var maxValue: ValueState[Double] = _
    @transient private var typeCounts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nEvents = getHandle.getValueState[Long]("n_events",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
      maxValue = getHandle.getValueState[Double]("max_value",
        org.apache.spark.sql.Encoders.scalaDouble, ttl)
      typeCounts = getHandle.getMapState[String, Long]("type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[TypedEvent],
        timerValues: TimerValues): Iterator[UserStats] = {
      var n = if (nEvents.exists()) nEvents.get() else 0L
      var mx = if (maxValue.exists()) maxValue.get() else Double.NegativeInfinity
      rows.foreach { e =>
        n += 1
        if (e.value > mx) mx = e.value
        val prev = if (typeCounts.containsKey(e.event_type))
          typeCounts.getValue(e.event_type) else 0L
        typeCounts.updateValue(e.event_type, prev + 1)
      }
      nEvents.update(n)
      maxValue.update(mx)
      Iterator.single(UserStats(key, n, typeCounts.keys().size, mx))
    }
  }

  /** Input/output rows for the custom-state operator below. */
  final case class EventKey(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class SeqOut(user_id: Long, event_id: Long, seq: Long)

  /** Custom keyed state via `flatMapGroupsWithState` (the extension point
    * for semantics the built-in stateful operators can't express): a
    * per-user running sequence number that SURVIVES across micro-batches —
    * batch N's numbering continues where batch N-1 stopped, which no
    * window function over a single micro-batch can do. State per key is one
    * Long (bounded); rows within a batch are ordered by (ts, event_id) for
    * determinism. On a batch Dataset the same code runs with empty initial
    * state, which makes it oracle-checkable against a row_number window.
    */
  def runningSeq(ds: Dataset[EventKey]): Dataset[SeqOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SeqOut](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventKey], state: GroupState[Long]) =>
          val start = state.getOption.getOrElse(0L)
          // Bounded by per-user events in ONE micro-batch (not all history).
          val sorted = rows.toIndexedSeq
            .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          state.update(start + sorted.size)
          sorted.iterator.zipWithIndex.map { case (r, i) =>
            SeqOut(uid, r.event_id, start + i + 1)
          }
      }
  }

  final case class TypedFunnelEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  final case class FunnelOut(user_id: Long, stage: Int)

  /** E124 LIVE ordered funnel — [[graft.operators.BehaviorOps.funnelStages]]
    * maintained continuously: per-user keyed state is the single int
    * "stage reached so far", advanced by each micro-batch's events in
    * (ts, nanos, event_id) order. Emits the user's stage after every
    * batch that contained events for them (Update-style progress over an
    * Append-mode flatMap — downstream dedups on the latest per user, the
    * same convention as [[runningSeq]]).
    *
    * State is ONE int per user — but one int times every user EVER SEEN
    * still grows the store linearly forever, so `idleTimeout` (processing
    * time since the user's last event) drops an idle user's state; a
    * late event after expiry restarts the funnel at stage 0 — the same
    * at-most semantics as a cross-batch out-of-order event (below), and
    * the right trade for a funnel, whose sessions are hours, not months.
    * Default None preserves unbounded retention (and the batch/oracle
    * path, where timeouts never fire anyway).
    *
    * A batch's work is bounded by that batch's events, never history.
    * In-order processing across batches relies on the source
    * delivering a user's events in batch order (true of the
    * CDC/watermark ingest path feeding it); a cross-batch out-of-order
    * event cannot regress the stage (the fold only advances), it can
    * only fail to count — the documented at-most semantics of a live
    * funnel, reconciled by the exact batch operator over the full log. */
  def streamingFunnelStages(
      ds: Dataset[TypedFunnelEvent],
      steps: Seq[String],
      idleTimeout: Option[java.time.Duration] = None): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "empty funnel")
    import ds.sparkSession.implicits._
    val k = steps.length
    val timeoutConf = idleTimeout.fold(GroupStateTimeout.NoTimeout)(_ =>
      GroupStateTimeout.ProcessingTimeTimeout)
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[Int, FunnelOut](OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[TypedFunnelEvent], state: GroupState[Int]) =>
          if (state.hasTimedOut) {
            // Idle past the TTL: drop the state row, emit nothing (the
            // user's last emitted stage stands downstream).
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.getOrElse(0)
            val sorted = rows.toIndexedSeq
              .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
            val st = sorted.foldLeft(st0) { (s, e) =>
              if (s < k && e.event_type == steps(s)) s + 1 else s
            }
            state.update(st)
            idleTimeout.foreach(d => state.setTimeoutDuration(d.toMillis))
            Iterator.single(FunnelOut(uid, st))
          }
      }
  }
}
