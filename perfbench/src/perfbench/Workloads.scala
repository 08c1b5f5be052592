package perfbench

import graft.pipeline.{CopyResult, RunReport}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A benchmark workload: `measure` times untraced `GraftApp.run` calls for
  * about `ctx.seconds`; `traced` runs a fixed step sequence once untraced
  * and once through the [[Tracer]], checks that both produce the same
  * outputs, and reports per-layer figures. */
trait Workload {
  def measure(ctx: Ctx, tally: Tally): Outcome
  def traced(ctx: Ctx, tally: Tally): Outcome

  protected def timeLeft(ctx: Ctx, t0: Long): Boolean =
    (System.nanoTime - t0) / 1e9 < ctx.seconds

  protected def same[A](what: String, a: A, b: A): (Boolean, String) =
    (a == b, s"$what: untraced $a, traced $b")

  protected def layerOutcome(layers: Map[String, Double], tr: Tracer): Outcome =
    Outcome(Layers.Names.map { case (n, u) => n -> Metric(layers(n), u, 1) }.toMap, Nil,
      Layers.breakdown(tr))

  /** Rows and watermarks of a traced run, in the shape the CLI prints. */
  protected def asPrinted(r: RunReport): (Map[String, Long], Map[String, String]) =
    (r.succeeded.map { case (t, c) => t -> c.rowsCopied },
      r.succeeded.flatMap { case (t, c) => c.newWatermark.map(t -> _.serialized) })

  /** The tail figure of `samples`: the highest percentile with at least ten
    * samples beyond it, named by that percentile, or the maximum (named
    * so) when the run has too few samples for one. */
  protected def tail(name: String, samples: Seq[Double]): (String, Metric) =
    Stats.tail(samples).map { case (p, v) => s"${name}_p${p}_s" -> Metric(v, "s", samples.size) }
      .getOrElse(s"${name}_max_s" -> Metric(samples.max, "s", samples.size))

  /** Evaluates `a` and `b`, `a` first when `i` is even: interleaved untraced
    * and traced steps alternate which of them meets a step shape first. */
  protected def firstSecond[A, B](i: Int)(a: => A, b: => B): (A, B) =
    if (i % 2 == 0) { val x = a; (x, b) } else { val y = b; (a, y) }

  protected def reportProblems(r: RunReport): Seq[(Boolean, String)] =
    r.failed.toSeq.map { case (t, e) => (false, s"table $t failed: ${e.getMessage}") }
}

object Workload {
  def named(name: String): Workload = name match {
    case "bulk_copy"     => BulkCopy
    case "incr_cron"     => IncrCron
    case "corpus_curate" => CorpusCurate
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (bulk_copy | incr_cron | corpus_curate)")
  }
}

/** One full load of a 7-table catalog (six sf0.1 tables plus gsf1
  * lineitem) into an empty parquet sink and state. */
object BulkCopy extends Workload {
  val Tables: Seq[String] = Inputs.SmallTables :+ "lineitem"

  private def catalog(ctx: Ctx): String = {
    val p = Paths.get(ctx.work, "bulk_catalog.csv")
    Files.write(p, ("table_name,to_be_loaded,watermark_column,watermark_type" +:
      Tables.map(t => s"$t,yes,,")).mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }

  private def src(ctx: Ctx) = s"${ctx.base}/tpch"

  private def expected(ctx: Ctx): Map[String, Long] = Inputs.tableRows(ctx.spark, ctx.base, Tables)

  private def sinkRows(ctx: Ctx, sink: String): Map[String, Long] =
    Tables.map(t => t -> ctx.spark.read.parquet(s"$sink/$t").count()).toMap

  private def load(ctx: Ctx, cat: String, tag: String): (AppResult, String) = {
    val d = ctx.dir(tag)
    val r = App.run(ctx.spark, "dev", "all", "--tables-list-path", cat,
      "--source", s"parquet:${src(ctx)}", "--sink", s"parquet:$d/sink",
      "--state", s"$d/state.properties", "--parallelism", "4", "--strict")
    (r, d)
  }

  private def checks(ctx: Ctx, rows: Map[String, Long], wms: Map[String, String],
      exp: Map[String, Long], dir: String): Seq[(Boolean, String)] = {
    val onDisk = sinkRows(ctx, s"$dir/sink")
    Tables.flatMap(t => Seq(
      (rows.get(t).contains(exp(t)), s"$t copied ${rows.get(t)} rows, source has ${exp(t)}"),
      (onDisk(t) == exp(t), s"$t sink holds ${onDisk(t)} rows, source has ${exp(t)}"))) :+
      (wms.isEmpty, s"a full-load catalog advanced watermarks: $wms")
  }

  def measure(ctx: Ctx, tally: Tally): Outcome = {
    val cat = catalog(ctx)
    val exp = expected(ctx)
    val srcBytes = Tables.map(t => Fs.bytes(s"${src(ctx)}/$t")).sum
    val (w, wd) = load(ctx, cat, "warm")
    tally.record("warm-up load", w.problems.map(false -> _) ++
      checks(ctx, w.rows, w.watermarks, exp, wd))
    Fs.delete(wd)
    val walls, files, bytes = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime
    while (walls.isEmpty || timeLeft(ctx, t0)) {
      val (r, d) = load(ctx, cat, s"load${walls.size}")
      tally.record(s"full load ${walls.size}", r.problems.map(false -> _) ++
        checks(ctx, r.rows, r.watermarks, exp, d))
      walls += r.wallS
      files += Fs.parquetFiles(s"$d/sink").size
      bytes += Fs.bytes(s"$d/sink").toDouble
      Fs.delete(d)
    }
    val n = walls.size
    val step = Metric(Stats.median(walls.toSeq), "s", n)
    val nFiles = Metric(Stats.median(files.toSeq), "count", n)
    val ratio = Metric(Stats.median(bytes.toSeq) / srcBytes, "ratio", n)
    Outcome(
      Map("step_p50_s" -> step, "files_per_step" -> nFiles, "out_bytes_per_in_byte" -> ratio),
      Seq("full_load_s" -> step, tail("full_load", walls.toSeq), "sink_files" -> nFiles, "sink_bytes_per_src_byte" -> ratio),
      Seq(f"warm-up load ${w.wallS}%.3f s; loads " + walls.map(x => f"$x%.3f").mkString(" ")))
  }

  def traced(ctx: Ctx, tally: Tally): Outcome = {
    val cat = catalog(ctx)
    val exp = expected(ctx)
    val (w, wd) = load(ctx, cat, "warm")
    tally.record("warm-up load", w.problems.map(false -> _))
    Fs.delete(wd)
    val (u, ud) = load(ctx, cat, "untraced")
    tally.record("untraced load", u.problems.map(false -> _) ++
      checks(ctx, u.rows, u.watermarks, exp, ud))
    Fs.delete(ud)
    val td = ctx.dir("traced")
    val tr = new Tracer(ctx.spark)
    val report = tr.copyRun("load", cat, src(ctx), s"$td/sink", s"$td/state.properties")
    val (rows, wms) = asPrinted(report)
    tally.record("traced load", reportProblems(report) ++
      checks(ctx, rows, wms, exp, td) ++
      Seq(same("rows per table", u.rows, rows), same("watermarks", u.watermarks, wms)))
    val results = report.succeeded.values.toSeq
    val layers = Layers.compute(tr, results, Seq(s"$td/sink"), results.map(_.rowsCopied).sum,
      Map("trace.overhead_s" -> (tr.steps.map(_.wallS).sum - u.wallS)))
    layerOutcome(layers, tr)
  }
}

/** The paper's scheduled run over the repo's own `tables_list`: region and
  * nation reload in full, customer has an id watermark and orders a
  * timestamp watermark. Each cycle drops one seeded delta as new source
  * part files, runs the copy, then makes one run with nothing new. */
object IncrCron extends Workload {
  final case class Dirs(src: String, sink: String, state: String)

  private def fresh(ctx: Ctx, plan: Inputs.IncrPlan, tag: String): Dirs = {
    val d = ctx.dir(tag)
    Fs.copyTree(s"${plan.dir}/base", s"$d/src")
    Dirs(s"$d/src", s"$d/sink", s"$d/state.properties")
  }

  private def run(ctx: Ctx, d: Dirs): AppResult =
    App.run(ctx.spark, "dev", "all", "--tables-list-path", s"${ctx.checkout}/tables_list",
      "--source", s"parquet:${d.src}", "--sink", s"parquet:${d.sink}",
      "--state", d.state, "--parallelism", "4", "--strict")

  private def drop(plan: Inputs.IncrPlan, i: Int, d: Dirs): Long =
    Seq("customer", "orders").map { t =>
      val files = plan.deltaFiles(i, t)
      Inputs.dropFiles(files, s"${d.src}/$t", f"delta$i%03d")
      files.map(Files.size).sum
    }.sum

  private def stateMap(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _           => None
    }).toMap

  /** What a run must copy and the watermarks it must leave behind. */
  final case class Expect(rows: Map[String, Long], wms: Map[String, String])

  private def baseExpect(plan: Inputs.IncrPlan) = Expect(plan.base,
    Map("customer" -> plan.baseCustMax.toString, "orders" -> plan.baseOrderMax))
  private def deltaExpect(plan: Inputs.IncrPlan, i: Int) = {
    val x = plan.deltas(i)
    Expect(Map("region" -> 5L, "nation" -> 25L, "customer" -> x.custRows, "orders" -> x.orderRows),
      Map("customer" -> x.custMax.toString) ++ x.orderMax.map("orders" -> _))
  }
  private val emptyExpect =
    Expect(Map("region" -> 5L, "nation" -> 25L, "customer" -> 0L, "orders" -> 0L), Map.empty)

  /** Per-table rows and new watermarks as expected; the state file holds
    * the expected watermarks; an empty run leaves it byte-identical. */
  private def checks(rows: Map[String, Long], wms: Map[String, String], e: Expect,
      d: Dirs, stateBefore: Array[Byte]): Seq[(Boolean, String)] = {
    val stateNow = Fs.readOr(d.state, Array.emptyByteArray)
    val st = stateMap(d.state)
    Seq((rows == e.rows, s"rows ${rows.toSeq.sorted} expected ${e.rows.toSeq.sorted}"),
      (wms == e.wms, s"new watermarks $wms expected ${e.wms}")) ++
      e.wms.map { case (t, v) => (st.get(t).contains(v), s"state $t=${st.get(t)} expected $v") } ++
      (if (e.wms.isEmpty)
        Seq((java.util.Arrays.equals(stateNow, stateBefore), "empty run changed the state file"))
      else Nil)
  }

  private def appStep(ctx: Ctx, d: Dirs, e: Expect, op: String, tally: Tally): AppResult = {
    val before = Fs.readOr(d.state, Array.emptyByteArray)
    val r = run(ctx, d)
    tally.record(op, r.problems.map(false -> _) ++ checks(r.rows, r.watermarks, e, d, before))
    r
  }

  def measure(ctx: Ctx, tally: Tally): Outcome = {
    val plan = Inputs.incrPlan(ctx.spark, ctx.base, ctx.cache, ctx.seed)
    Main.phase("inputs")
    val w = fresh(ctx, plan, "warm")
    appStep(ctx, w, baseExpect(plan), "warm-up base load", tally)
    drop(plan, 0, w)
    appStep(ctx, w, deltaExpect(plan, 0), "warm-up incremental run", tally)
    appStep(ctx, w, emptyExpect, "warm-up empty run", tally)
    Main.phase("warm-up")
    val d = fresh(ctx, plan, "cron")
    appStep(ctx, d, baseExpect(plan), "base load", tally)
    val small = Seq("region", "nation").map(t => Fs.bytes(s"${d.src}/$t")).sum
    val incr, empty, files = ArrayBuffer.empty[Double]
    var inBytes, outBytes = 0L
    val t0 = System.nanoTime
    var i = 0
    while ((i < 2 || timeLeft(ctx, t0)) && i < Inputs.NDeltas) {
      inBytes += small + drop(plan, i, d)
      val (f0, b0) = (Fs.parquetFiles(d.sink).size, Fs.bytes(d.sink))
      incr += appStep(ctx, d, deltaExpect(plan, i), s"incremental run $i", tally).wallS
      files += Fs.parquetFiles(d.sink).size - f0
      outBytes += Fs.bytes(d.sink) - b0
      empty += appStep(ctx, d, emptyExpect, s"empty run $i", tally).wallS
      i += 1
    }
    val step = Metric(Stats.median(incr.toSeq), "s", i)
    val nFiles = Metric(Stats.median(files.toSeq), "count", i)
    Outcome(
      Map("step_p50_s" -> step, "files_per_step" -> nFiles,
        "out_bytes_per_in_byte" -> Metric(outBytes.toDouble / inBytes, "ratio", i)),
      Seq("incr_run_p50_s" -> step, tail("incr_run", incr.toSeq),
        "empty_run_p50_s" -> Metric(Stats.median(empty.toSeq), "s", i),
        "incr_files_per_run" -> nFiles),
      Seq("incremental runs " + incr.map(x => f"$x%.3f").mkString(" "),
        "empty runs " + empty.map(x => f"$x%.3f").mkString(" "),
        s"delta sizes (customer, orders rows): " +
        plan.deltas.take(i).map(x => s"${x.custRows}/${x.orderRows}").mkString(" ")))
  }

  val TracedCycles = 4

  def traced(ctx: Ctx, tally: Tally): Outcome = {
    val plan = Inputs.incrPlan(ctx.spark, ctx.base, ctx.cache, ctx.seed)
    // Warm the session on the same steps first.
    val w = fresh(ctx, plan, "warm")
    appStep(ctx, w, baseExpect(plan), "warm-up base load", tally)
    drop(plan, 0, w)
    appStep(ctx, w, deltaExpect(plan, 0), "warm-up incremental run", tally)
    appStep(ctx, w, emptyExpect, "warm-up empty run", tally)

    // Untraced and traced cycles interleave, in alternating order, so that
    // neither side always runs a step shape first.
    val u = fresh(ctx, plan, "untraced")
    val t = fresh(ctx, plan, "traced")
    appStep(ctx, u, baseExpect(plan), "untraced base load", tally)
    appStep(ctx, t, baseExpect(plan), "traced base load", tally)
    val cat = s"${ctx.checkout}/tables_list"
    val tr = new Tracer(ctx.spark)
    val results = ArrayBuffer.empty[CopyResult]
    var untracedS = 0.0
    for (i <- 0 until TracedCycles) {
      drop(plan, i, u)
      drop(plan, i, t)
      for (((kind, e), j) <- Seq(("incr", deltaExpect(plan, i)), ("empty", emptyExpect))
          .zipWithIndex) {
        val before = Fs.readOr(t.state, Array.emptyByteArray)
        def untraced() = appStep(ctx, u, e, s"untraced $kind run $i", tally)
        def traced() = tr.copyRun(kind, cat, t.src, t.sink, t.state)
        val (un, report) = firstSecond(i + j)(untraced(), traced())
        untracedS += un.wallS
        val (rows, wms) = asPrinted(report)
        results ++= report.succeeded.values
        tally.record(s"traced $kind run $i", reportProblems(report) ++
          checks(rows, wms, e, t, before) ++
          Seq(same("rows per table", un.rows, rows), same("watermarks", un.watermarks, wms)))
      }
    }
    tally.record("traced state file", Seq((java.util.Arrays.equals(
      Fs.readOr(u.state, Array.emptyByteArray), Fs.readOr(t.state, Array.emptyByteArray)),
      "traced and untraced state files differ")))
    val overhead = tr.steps.map(_.wallS).sum - untracedS
    val layers = Layers.compute(tr, results.toSeq, Seq(t.sink), results.map(_.rowsCopied).sum,
      Map("trace.overhead_s" -> overhead))
    layerOutcome(layers, tr)
  }
}

/** The LLM-corpus extension: documents arrive in seeded batches; each batch
  * gets one near-dup streaming drain into a persistent ledger and an
  * idempotent sink; then the ledger is compacted and the curated corpus is
  * exported in verified shards. */
object CorpusCurate extends Workload {
  final case class Dirs(src: String, curated: String, ledger: String, ckpt: String,
      exportDir: String)

  private def dirs(ctx: Ctx, tag: String): Dirs = {
    val d = ctx.dir(tag)
    Dirs(s"$d/src", s"$d/curated", s"$d/ledger", s"$d/ckpt", s"$d/export")
  }

  private def drainArgs(d: Dirs): Seq[String] = Seq("dev", "docs", "--stream",
    "--dedup", "neardup", "--source", s"parquet:${d.src}",
    "--sink", s"parquet-idempotent:${d.curated}", "--ledger", d.ledger,
    "--checkpoint", d.ckpt, "--strict")

  private def rowCount(ctx: Ctx, dir: String): Long = ctx.spark.read.parquet(dir).count()

  /** (kept docs, distinct kept ids, XOR of the kept ids' hashes). */
  private def kept(ctx: Ctx, d: Dirs): (Long, Long, Long) = {
    val r = ctx.spark.read.parquet(s"${d.curated}/docs")
      .agg(count(lit(1)), countDistinct(col("doc_id")), expr("bit_xor(xxhash64(doc_id))"))
      .head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Drops batch `i` and drains it; returns (wall seconds, sink files added). */
  private def drainStep(ctx: Ctx, d: Dirs, i: Int, batch: Seq[Path], tag: String,
      tally: Tally): (Double, Int) = {
    Inputs.dropFiles(batch, d.src, s"b$i")
    val f0 = Fs.parquetFiles(d.curated).size
    val r = App.run(ctx.spark, drainArgs(d): _*)
    val line = r.line("STREAM_EPOCHS_DOCS=")
    tally.record(s"$tag drain $i", r.problems.map(false -> _) :+
      (line.exists(_.length > "STREAM_EPOCHS_DOCS=".length), s"drain moved no epoch: $line"))
    (r.wallS, Fs.parquetFiles(d.curated).size - f0)
  }

  /** `--compact-ledger`; the ledger must hold the same rows afterwards. */
  private def compactStep(ctx: Ctx, d: Dirs, tag: String, tally: Tally): (Double, Long) = {
    val rows = rowCount(ctx, d.ledger)
    val c = App.run(ctx.spark, "dev", "docs", "--compact-ledger", "--ledger", d.ledger)
    tally.record(s"$tag compact", c.problems.map(false -> _) ++ Seq(
      (c.line("COMPACT_LEDGER_").exists(_.endsWith(s" rows=$rows")),
        s"compaction reported ${c.line("COMPACT_LEDGER_")}, ledger held $rows rows"),
      (rowCount(ctx, d.ledger) == rows, "ledger rows changed by compaction")))
    (c.wallS, rows)
  }

  /** `--export-shards`, which verifies what it wrote. */
  private def exportStep(ctx: Ctx, d: Dirs, seed: Long, tag: String, tally: Tally): Double = {
    val e = App.run(ctx.spark, "dev", "docs", "--export-shards",
      "--source", s"parquet:${d.curated}", "--export-dir", d.exportDir, "--id-col", "doc_id",
      "--content-cols", "text", "--shards", "16", "--seed", seed.toString, "--strict")
    tally.record(s"$tag export", e.problems.map(false -> _) :+
      (e.line("VERIFY_EXPORT_").exists(_.endsWith(" OK")), "export verification did not pass"))
    e.wallS
  }

  private def keptCheck(ctx: Ctx, d: Dirs, tag: String, tally: Tally): (Long, Long, Long) = {
    val k = kept(ctx, d)
    tally.record(s"$tag kept docs", Seq((k._1 == k._2 && k._1 > 0,
      s"curated corpus holds ${k._1} rows for ${k._2} distinct ids")))
    k
  }

  /** Two drains of full-size batches (the last two, which the timed loop
    * does not reach) in a separate tree, so the plan shapes of a full-size
    * batch against a populated ledger are compiled before timing starts. */
  private def warmDrains(ctx: Ctx, plan: Inputs.CorpusPlan, tally: Tally): Dirs = {
    val d = dirs(ctx, "warm-up")
    for (i <- 0 until 2)
      drainStep(ctx, d, i, plan.batchFiles(Inputs.NBatches - 1 - i), "warm-up", tally)
    d
  }

  def measure(ctx: Ctx, tally: Tally): Outcome = {
    val plan = Inputs.corpusPlan(ctx.spark, ctx.base, ctx.cache, ctx.seed)
    // Compaction and export run once per pass, as a scheduler runs them
    // once per invocation: they are reported from their first call.
    warmDrains(ctx, plan, tally)
    val d = dirs(ctx, "curate")
    val epochs, files = ArrayBuffer.empty[Double]
    var raw = 0L
    val t0 = System.nanoTime
    while ((epochs.size < 2 || timeLeft(ctx, t0)) && epochs.size < Inputs.NBatches - 2) {
      val b = plan.batchFiles(epochs.size)
      raw += b.map(Files.size).sum
      val (wall, added) = drainStep(ctx, d, epochs.size, b, "curate", tally)
      epochs += wall
      files += added
    }
    val (compactS, _) = compactStep(ctx, d, "curate", tally)
    val exportS = exportStep(ctx, d, plan.exportSeed, "curate", tally)
    val k = keptCheck(ctx, d, "curate", tally)
    val n = epochs.size
    val docs = plan.batchDocs.take(n).sum
    val step = Metric(Stats.median(epochs.toSeq), "s", n)
    val nFiles = Metric(Stats.median(files.toSeq), "count", n)
    Outcome(
      Map("step_p50_s" -> step, "files_per_step" -> nFiles,
        "out_bytes_per_in_byte" -> Metric(Fs.bytes(d.curated).toDouble / raw, "ratio", n)),
      Seq("drain_epoch_p50_s" -> step, tail("drain_epoch", epochs.toSeq),
        "drain_docs_per_s" -> Metric(docs / epochs.sum, "1/s", n),
        "compact_s" -> Metric(compactS, "s", 1),
        "export_verify_s" -> Metric(exportS, "s", 1)),
      Seq("drain epochs " + epochs.map(x => f"$x%.3f").mkString(" "),
        s"kept ${k._1} of $docs docs; export seed ${plan.exportSeed}"))
  }

  val TracedEpochs = 4

  def traced(ctx: Ctx, tally: Tally): Outcome = {
    val plan = Inputs.corpusPlan(ctx.spark, ctx.base, ctx.cache, ctx.seed)
    val w = warmDrains(ctx, plan, tally)
    compactStep(ctx, w, "warm-up", tally)
    exportStep(ctx, w, plan.exportSeed, "warm-up", tally)
    // Untraced and traced steps interleave, in alternating order.
    val u = dirs(ctx, "untraced")
    val t = dirs(ctx, "traced")
    val tr = new Tracer(ctx.spark)
    val ledgerFiles = ArrayBuffer.empty[Int]
    var untracedS = 0.0
    for (i <- 0 until TracedEpochs) {
      def traced(): Unit = {
        Inputs.dropFiles(plan.batchFiles(i), t.src, s"b$i")
        ledgerFiles += Fs.parquetFiles(t.ledger).size
        tr.drain(t.src, t.curated, t.ledger, t.ckpt)
      }
      untracedS += firstSecond(i)(
        drainStep(ctx, u, i, plan.batchFiles(i), "untraced", tally)._1, traced())._1
    }
    val ((compactS, rows), c) =
      firstSecond(TracedEpochs)(compactStep(ctx, u, "untraced", tally), tr.compact(t.ledger))
    tally.record("traced compact", Seq((c.rows == rows && rowCount(ctx, t.ledger) == rows,
      s"traced compaction: ${c.rows} rows, untraced ledger $rows rows")))
    untracedS += compactS + firstSecond(TracedEpochs + 1)(
      exportStep(ctx, u, plan.exportSeed, "untraced", tally),
      tr.exportShards(t.curated, t.exportDir, plan.exportSeed))._1
    val ku = keptCheck(ctx, u, "untraced", tally)
    val kt = kept(ctx, t)
    tally.record("traced outputs", Seq(same("kept-doc id set (rows, distinct, hash)", ku, kt)))
    val layers = Layers.compute(tr, Nil, Seq(t.curated), kt._1, Map(
      "ledger.files" -> ledgerFiles.max.toDouble,
      "ledger.rows" -> c.rows.toDouble,
      "dedup.kept_frac" -> kt._1.toDouble / plan.batchDocs.take(TracedEpochs).sum,
      "compact.files_before" -> c.filesBefore.toDouble,
      "compact.files_after" -> c.filesAfter.toDouble,
      "compact.rows" -> c.rows.toDouble,
      "export.bytes" -> Fs.bytes(t.exportDir).toDouble,
      "trace.overhead_s" -> (tr.steps.map(_.wallS).sum - untracedS)))
    layerOutcome(layers, tr)
  }
}
