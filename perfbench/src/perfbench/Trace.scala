package perfbench

import graft.operators.{ExportOps, MaintenanceOps}
import graft.pipeline._
import graft.streaming.StreamingOps
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable
import scala.concurrent.duration.Duration

/** One traced step: its wall time, the decorator spans and what the
  * Spark listeners counted while it ran. */
final case class StepTrace(kind: String, wallS: Double, spans: Seq[Span], snap: Snapshot)

/** The traced replay: the same steps `GraftApp.run` performs, made through
  * each layer's public functions with the arguments `GraftApp.run` passes
  * them, with timing decorators around `Source`, `Sink`/`IdempotentSink`
  * and `WatermarkState` and the [[Recorder]] listening. */
final class Tracer(spark: SparkSession) {
  val recorder = new Recorder
  val steps = mutable.ArrayBuffer.empty[StepTrace]
  // Maps a listener wall-clock ms onto the System.nanoTime scale of spans.
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNano(ms: Long): Long = ms * 1000000L - nanoOffset

  /** Runs one traced step. The listeners are registered for the step only,
    * so untraced steps interleaved with traced ones pay nothing for them. */
  private def step[A](kind: String)(f: Spans => A): A = {
    val spans = new Spans
    recorder.register(spark)
    try {
      recorder.snapshot(spark)
      val t0 = System.nanoTime
      val r = f(spans)
      val wall = (System.nanoTime - t0) / 1e9
      steps += StepTrace(kind, wall, spans.take(), recorder.snapshot(spark))
      r
    } finally recorder.unregister(spark)
  }

  private def inGroup[A](group: String)(f: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** `GraftApp.run`'s copy path: catalog, then the orchestrated copy. */
  def copyRun(kind: String, catalog: String, srcDir: String, sinkDir: String,
      statePath: String): RunReport = step(kind) { spans =>
    val specs = spans.time("catalog.load", "")(inGroup("perfbench-catalog")(
      Catalog.load(spark, catalog, None, warn = _ => ())))
    require(specs.nonEmpty, s"no tables in $catalog")
    val source = new TimedSource(Connectors.source("parquet", srcDir), spans)
    val sink = Timed.sink(Connectors.sink("parquet", sinkDir), spans)
    val state = new TimedState(StateStore(statePath), spans)
    spans.time("orch.runAll", "")(Orchestrator.runAll(
      spark, specs, source, sink, state, SaveMode.Append, 4, Duration.Inf))
  }

  /** `GraftApp.run --stream --dedup neardup`: one AvailableNow drain. */
  def drain(srcDir: String, curated: String, ledger: String, ckpt: String): Unit =
    step("epoch") { spans =>
      val schema = spark.read.parquet(srcDir).schema
      val writer = spark.readStream.schema(schema).parquet(srcDir).writeStream
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      val idem = Connectors.sink("parquet-idempotent", curated) match {
        case s: IdempotentSink => new TimedIdempotentSink(s, spans)
        case other => throw new IllegalStateException(s"not idempotent: $other")
      }
      val q = StreamingOps.foreachBatchLedgerNeardup(
        writer, "text", "doc_id", ledger, idem, "docs").start()
      q.awaitTermination()
    }

  def compact(ledger: String): MaintenanceOps.CompactionReport =
    step("compact")(spans => spans.time("compact", "")(MaintenanceOps.compactLedger(spark, ledger)))

  /** `GraftApp.run --export-shards`: write, then verify what was written. */
  def exportShards(curated: String, dir: String, seed: Long): Unit = step("export") { spans =>
    val df = Connectors.source("parquet", curated).read(spark, "docs")
    spans.time("export.write", "")(
      ExportOps.shardedExport(df, dir, "doc_id", Seq("text"), 16, seed))
    spans.time("export.verify", "")(
      ExportOps.verifyShards(spark, dir, "doc_id", Seq("text"), seed))
  }
}

/** Per-layer figures from a traced replay. Times are medians over the calls
  * (or steps) where the layer ran; counts are totals over the replay;
  * a layer the workload does not exercise reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "catalog.load_s" -> "s", "catalog.jobs" -> "count",
    "orch.run_all_s" -> "s", "orch.overlap" -> "ratio", "orch.queue_wait_max_s" -> "s",
    "orch.last_table_s" -> "s",
    "copy.table_s" -> "s", "copy.probe_s" -> "s", "copy.rows" -> "count", "copy.skipped" -> "count",
    "source.read_s" -> "s", "source.input_bytes" -> "bytes", "source.input_records" -> "count",
    "sink.write_s" -> "s", "sink.output_bytes" -> "bytes", "sink.output_records" -> "count",
    "sink.files" -> "count", "sink.rows_per_file" -> "count",
    "state.get_s" -> "s", "state.put_s" -> "s", "state.gets" -> "count", "state.puts" -> "count",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
    "stream.offsets_s" -> "s", "stream.commit_s" -> "s", "stream.start_stop_s" -> "s",
    "stream.input_rows" -> "count",
    "ledger.write_s" -> "s", "ledger.commit_s" -> "s", "ledger.files" -> "count",
    "ledger.rows" -> "count", "dedup.kept_frac" -> "ratio",
    "compact.s" -> "s", "compact.files_before" -> "count", "compact.files_after" -> "count",
    "compact.rows" -> "count",
    "export.write_s" -> "s", "export.verify_s" -> "s", "export.bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "trace.overhead_s" -> "s")

  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  private def copyTable(group: String): Option[String] =
    if (!group.startsWith("graft-copy-")) None
    else Some(group.stripPrefix("graft-copy-").dropWhile(_ != '-').drop(1))

  /** Per-table copy timeline of one traced copy run. */
  final case class TableSpan(table: String, start: Long, readEnd: Long, probeEnd: Long,
      end: Long)

  def tableSpans(tr: Tracer, st: StepTrace): Seq[TableSpan] = {
    val lastJob = st.snap.groups.flatMap { case (g, c) =>
      copyTable(g).map(_ -> tr.msToNano(c.lastJobEndMs)) }
    st.spans.filter(_.layer == "source.read").groupBy(_.table).toSeq.map { case (t, reads) =>
      val first = reads.minBy(_.t0)
      val write = st.spans.find(s => s.layer == "sink.write" && s.table == t)
      val put = st.spans.find(s => s.layer == "state.put" && s.table == t)
      val fallback = lastJob.getOrElse(t, first.t1)
      val end = (write.map(_.t1).toSeq ++ put.map(_.t1)).maxOption.getOrElse(fallback)
      TableSpan(t, first.t0, first.t1, write.map(_.t0).getOrElse(fallback), end)
    }
  }

  def compute(tr: Tracer, results: Seq[CopyResult], sinkDirs: Seq[String],
      sinkRecords: Long, extra: Map[String, Double]): Map[String, Double] = {
    val steps = tr.steps.toSeq
    val spans = steps.flatMap(_.spans)
    def times(layer: String) = spans.filter(_.layer == layer).map(_.seconds)
    val m = mutable.LinkedHashMap.empty[String, Double]
    Names.foreach { case (n, _) => m(n) = 0.0 }

    m("catalog.load_s") = med(times("catalog.load"))
    val catalogLoads = times("catalog.load").size
    if (catalogLoads > 0)
      m("catalog.jobs") = steps.map(_.snap.groups.get("perfbench-catalog").map(_.jobs).getOrElse(0L))
        .sum.toDouble / catalogLoads

    val copySteps = steps.filter(_.spans.exists(_.layer == "orch.runAll"))
    val runs = copySteps.map { st =>
      val run = st.spans.find(_.layer == "orch.runAll").get
      val ts = tableSpans(tr, st)
      (run, ts)
    }
    m("orch.run_all_s") = med(runs.map(_._1.seconds))
    m("orch.overlap") = med(runs.map { case (run, ts) =>
      ts.map(t => (t.end - t.start) / 1e9).sum / run.seconds })
    m("orch.queue_wait_max_s") = med(runs.map { case (run, ts) =>
      ts.map(t => (t.start - run.t0) / 1e9).maxOption.getOrElse(0.0) })
    m("orch.last_table_s") = med(runs.flatMap { case (_, ts) =>
      ts.maxByOption(_.end).map(t => (t.end - t.start) / 1e9) })
    val allTables = runs.flatMap(_._2)
    m("copy.table_s") = med(allTables.map(t => (t.end - t.start) / 1e9))
    m("copy.probe_s") = med(allTables.map(t => (t.probeEnd - t.readEnd) / 1e9))
    m("copy.rows") = results.map(_.rowsCopied).sum.toDouble
    m("copy.skipped") = results.count(_.skipped).toDouble

    m("source.read_s") = med(times("source.read"))
    val copyGroups = copySteps.flatMap(_.snap.groups.filter(g => copyTable(g._1).isDefined).values)
    val inputGroups = if (copySteps.nonEmpty) copyGroups
      else steps.filter(_.kind == "epoch").map(_.snap.total)
    m("source.input_bytes") = inputGroups.map(_.inBytes).sum.toDouble
    m("source.input_records") = inputGroups.map(_.inRecords).sum.toDouble

    m("sink.write_s") = med(times("sink.write"))
    val files = sinkDirs.flatMap(Fs.parquetFiles)
    m("sink.output_bytes") = files.map(_._2).sum.toDouble
    m("sink.output_records") = sinkRecords.toDouble
    m("sink.files") = files.size.toDouble
    if (files.nonEmpty) m("sink.rows_per_file") = sinkRecords.toDouble / files.size

    m("state.get_s") = med(times("state.get"))
    m("state.put_s") = med(times("state.put"))
    m("state.gets") = times("state.get").size.toDouble
    m("state.puts") = times("state.put").size.toDouble

    val epochs = steps.filter(_.kind == "epoch")
    def dur(p: Seq[StreamingQueryProgress], keys: String*): Double =
      p.distinctBy(x => (x.runId, x.batchId, x.timestamp)).map(x => keys.map(k => Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum)
        .sum / 1e3
    if (epochs.nonEmpty) {
      m("stream.trigger_s") = med(epochs.map(e => dur(e.snap.progress, "triggerExecution")))
      m("stream.add_batch_s") = med(epochs.map(e => dur(e.snap.progress, "addBatch")))
      m("stream.planning_s") = med(epochs.map(e => dur(e.snap.progress, "queryPlanning")))
      m("stream.offsets_s") = med(epochs.map(e => dur(e.snap.progress, "latestOffset", "getBatch")))
      m("stream.commit_s") = med(epochs.map(e => dur(e.snap.progress, "walCommit", "commitOffsets")))
      m("stream.start_stop_s") =
        med(epochs.map(e => e.wallS - dur(e.snap.progress, "triggerExecution")))
      m("stream.input_rows") = epochs.map(_.snap.progress
        .distinctBy(x => (x.runId, x.batchId, x.timestamp)).map(_.numInputRows).sum).sum.toDouble
      val writes = epochs.map(_.spans.filter(_.layer == "sink.write").map(_.seconds).sum)
      m("ledger.write_s") = med(writes)
      m("ledger.commit_s") = med(epochs.zip(writes).map { case (e, w) =>
        dur(e.snap.progress, "addBatch") - w })
    }

    m("compact.s") = med(times("compact"))
    m("export.write_s") = med(times("export.write"))
    m("export.verify_s") = med(times("export.verify"))

    val total = new Counters
    steps.foreach(s => total += s.snap.total)
    val wall = steps.map(_.wallS).sum
    m("spark.jobs") = total.jobs.toDouble
    m("spark.stages") = total.stages.toDouble
    m("spark.tasks") = total.tasks.toDouble
    m("spark.task_run_s") = total.runMs / 1e3
    m("spark.task_cpu_s") = total.cpuNs / 1e9
    m("spark.gc_s") = total.gcMs / 1e3
    if (wall > 0) m("spark.busy_frac") = total.runMs / 1e3 / (wall * Main.Cores)
    m("spark.shuffle_write_bytes") = total.shuffleWrite.toDouble
    m("spark.shuffle_read_bytes") = total.shuffleRead.toDouble
    m("spark.fetch_wait_s") = total.fetchWaitMs / 1e3
    m("spark.spill_bytes") = total.spill.toDouble
    m("spark.peak_exec_mem_bytes") = total.peakMem.toDouble

    extra.foreach { case (k, v) => require(m.contains(k), s"unknown layer metric $k"); m(k) = v }
    m.toMap
  }

  /** Human-readable breakdown: Spark counters per step and per copy job
    * group. */
  def breakdown(tr: Tracer): Seq[String] =
    tr.steps.toSeq.zipWithIndex.flatMap { case (st, i) =>
      def row(label: String, c: Counters, wall: Double) =
        f"  $label%-34s jobs=${c.jobs}%3d stages=${c.stages}%3d tasks=${c.tasks}%4d " +
          f"run=${c.runMs / 1e3}%7.3fs cpu=${c.cpuNs / 1e9}%7.3fs gc=${c.gcMs / 1e3}%6.3fs " +
          f"in=${c.inBytes}%d out=${c.outBytes}%d shufW=${c.shuffleWrite}%d " +
          f"shufR=${c.shuffleRead}%d spill=${c.spill}%d" +
          (if (wall > 0) f" busy=${c.runMs / 1e3 / (wall * Main.Cores)}%.3f" else "")
      (row(f"step $i%02d ${st.kind} ${st.wallS}%.3fs", st.snap.total, st.wallS) +:
        st.snap.progress.map(p => s"    stream batch ${p.batchId} rows=${p.numInputRows} " +
          s"at ${p.timestamp} durations=${p.durationMs}") ++:
        st.snap.groups.toSeq.filter(g => copyTable(g._1).isDefined).sortBy(_._1)
          .map { case (g, c) => row("    " + g, c, 0.0) })
    }
}
