package graft.pipeline

import graft.operators.{DedupOps, ExportOps, Ledger, LshOps, MaintenanceOps, PqOps, SamplingOps, SetJoinOps, SketchOps, SrpOps}
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import scala.concurrent.duration.{Duration, DurationLong}

/** CLI entry point — the engine's `app.py` (the reference's `app.py:31-46`).
  *
  * {{{
  * GraftApp <env> <table|t1,t2|all> [--strict] [--<mode> [the mode's flags]]
  * }}}
  *
  * An invocation runs ONE [[GraftApp.Command]]. With no mode flag it is the
  * reference's catalog copy:
  * {{{
  * GraftApp <env> <table|t1,t2|all> [--tables-list-path P] [--source fmt:loc]
  *          [--sink fmt:loc] [--state P] [--mode append|overwrite]
  *          [--parallelism N] [--table-timeout-sec N] [--strict]
  * }}}
  * Every other command is named by its mode flag (`--stream`,
  * `--compact-ledger`, `--pq-search`, …). Two mode flags refuse, naming
  * both; a flag the chosen command does not read refuses, naming the
  * command and the flags it does read. The positionals and `--strict` are
  * accepted by every command; `--strict` makes the copy exit non-zero when
  * any table failed — every other command already fails by throwing.
  * Every check that needs neither Spark nor the filesystem runs in
  * [[GraftApp.parseArgs]], so a misused cron line refuses before a session
  * is built.
  *
  * Contract parity with the reference CLI:
  *  - positional `env` + comma-separated table arg or `all`
  *    (`app.py:32-40`); `--tables-list-path` default `tables_list`
  *    (`app.py:41-46`),
  *  - connection settings resolve from the env-keyed config with creds in
  *    the process environment (`app.py:55-60` → [[PipelineConfig]]);
  *    `--source`/`--sink` override them explicitly,
  *  - `LAST_WATERMARK_<TABLE>` process-env entries seed the state store
  *    (`app.py:100-117`: the orchestrator injects watermarks via env), and
  *    new watermarks are printed as `NEW_WATERMARK_<TABLE>=<v>` lines
  *    (`app.py:168`),
  *  - per-table errors log and continue (`app.py:175-177`); only setup
  *    failures (unknown env, empty catalog) and unhandled errors exit
  *    non-zero (`app.py:188-193`).
  *
  * `run` is the testable core: it takes the session and an output callback
  * and returns the exit code, so the E2E spec drives the full CLI without
  * forking a JVM or calling System.exit.
  */
object GraftApp {

  /** One CLI invocation: each mode's case class holds only what it reads. */
  sealed trait Command

  object Command {
    final case class Copy(env: String, tableArg: String, tablesListPath: String,
        source: Option[Source], sink: Option[Sink], statePath: String, mode: SaveMode,
        parallelism: Int, tableTimeout: Duration, strict: Boolean) extends Command
    final case class StreamDedup(table: String, sourceDir: String, sink: IdempotentSink,
        ledger: String, checkpoint: String, dedup: String, textCol: String, idCol: String,
        vecCol: String, minCos: Double, k: Int) extends Command
    final case class StreamPq(table: String, sourceDir: String, store: String,
        checkpoint: String, vecCol: String, idCol: String) extends Command
    final case class CompactLedger(ledger: String) extends Command
    final case class FoldEpochs(ledger: String, checkpoint: String) extends Command
    final case class ExportShards(env: String, table: String, source: Option[Source],
        exportDir: String, idCol: String, contentCols: Seq[String], shards: Int,
        seed: Long) extends Command
    final case class VerifyExport(exportDir: String, idCol: String, contentCols: Seq[String],
        seed: Long) extends Command
    final case class ScrubSpans(env: String, table: String, source: Option[Source],
        sink: Option[Sink], mode: SaveMode, textCol: String, idCol: String, spanTokens: Int,
        minDocs: Int) extends Command
    final case class EpochShuffle(env: String, table: String, source: Option[Source],
        sink: Option[Sink], mode: SaveMode, idCol: String, epoch: Long) extends Command
    final case class DeletePq(ids: Seq[Long], auditDir: String, store: String,
        idCol: String) extends Command
    final case class DeleteLedger(ids: Seq[Long], auditDir: String, ledger: String,
        corpusDir: String, textCol: String, vecCol: String, idCol: String,
        hashAudit: Boolean) extends Command
    final case class DeleteCorpus(ids: Seq[Long], auditDir: String, corpusDir: String,
        idCol: String) extends Command
    final case class Zorder(cols: Seq[String], corpusDir: String, outDir: String, bits: Int,
        files: Int) extends Command
    final case class HeavyHitters(column: String, corpusDir: String, outDir: String,
        capacity: Int, k: Int, tokenize: Boolean) extends Command
    final case class PqEncode(corpusDir: String, outDir: String, vecCol: String, idCol: String,
        m: Int, k: Int, iters: Int, coarseK: Int, residual: Boolean, balancedPerm: Boolean,
        refineM: Int, refineK: Int) extends Command
    final case class PqAppend(corpusDir: String, outDir: String, epoch: String, vecCol: String,
        idCol: String) extends Command
    final case class PqSearch(queriesDir: String, store: String, outDir: String,
        vecCol: String, idCol: String, k: Int, nprobe: Int, residual: Boolean, rerank: Int,
        rerankCorpus: Option[String]) extends Command
    final case class PqAudit(store: String, outDir: String, idCol: String) extends Command
    final case class PqRebalance(store: String, corpusDir: String, outDir: String,
        vecCol: String, idCol: String, maxCell: Long, iters: Int) extends Command
    final case class PqFold(store: String, checkpoint: String) extends Command
    final case class AnnRecall(store: String, corpusDir: String, vecCol: String, idCol: String,
        k: Int, nQueries: Int, nprobe: Int, rerank: Int) extends Command
    final case class DedupRecall(ledger: String, corpusDir: String, textCol: String,
        vecCol: String, idCol: String, minJaccard: Double, nQueries: Int) extends Command
    final case class ExactNeardup(corpusDir: String, outDir: String, textCol: String,
        idCol: String, tau: Double) extends Command
  }
  import Command._

  /** The flags that name a command; an invocation with none is the copy. */
  private val modeFlags = Seq("stream", "compact-ledger", "fold-epochs", "export-shards",
    "verify-export", "scrub-spans", "epoch-shuffle", "delete-ids", "zorder", "heavy-hitters",
    "pq-encode", "pq-append", "pq-search", "pq-audit", "pq-rebalance", "pq-fold",
    "ann-recall", "dedup-recall", "exact-neardup")

  /** Valueless flags (presence = true). */
  private val boolFlags = Set("strict", "stream", "compact-ledger", "fold-epochs",
    "export-shards", "verify-export", "scrub-spans", "exact-neardup", "tokenize",
    "pq-encode", "pq-append", "pq-search", "pq-audit", "pq-rebalance", "pq-fold",
    "residual", "balanced-perm", "hash-audit", "ann-recall", "dedup-recall")

  /** One command's view of the flags. Every name it asks for is recorded,
    * so [[done]] refuses any flag the command never read — a typo'd or
    * misplaced flag must be loud, not silently fall back to defaults. */
  private final class Flags(val cmd: String, mode: Option[String], val env: String,
      val table: String, kv: Map[String, String]) {
    private val read = scala.collection.mutable.LinkedHashSet("strict") ++ mode
    def opt(name: String): Option[String] = { read += name; kv.get(name) }
    def req(name: String, what: String = "P"): String = opt(name).getOrElse(
      throw new IllegalArgumentException(s"$cmd requires --$name $what"))
    def str(name: String, default: String): String = opt(name).getOrElse(default)
    def int(name: String, default: Int): Int = opt(name).fold(default)(_.toInt)
    def double(name: String, default: Double): Double = opt(name).fold(default)(_.toDouble)
    def flag(name: String): Boolean = opt(name).isDefined
    def list(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def oneOf(name: String, default: String, allowed: String*): String = {
      val v = str(name, default)
      if (!allowed.contains(v)) throw new IllegalArgumentException(
        s"unknown --$name: $v (expected ${allowed.mkString("|")})")
      v
    }
    def saveMode: SaveMode =
      if (oneOf("mode", "append", "append", "overwrite") == "overwrite") SaveMode.Overwrite
      else SaveMode.Append
    def ids: Seq[Long] = list(req("delete-ids")).map(_.toLong)
    def source: Option[Source] = opt("source").map(PipelineConfig.parseEndpoint)
      .map { case (f, l) => Connectors.source(f, l) }
    def sink: Option[Sink] = opt("sink").map(PipelineConfig.parseEndpoint)
      .map { case (f, l) => Connectors.sink(f, l) }
    def done(c: Command): Command = {
      val unread = kv.keySet -- read
      if (unread.nonEmpty)
        throw new IllegalArgumentException(
          s"$cmd does not read ${unread.toSeq.sorted.map("--" + _).mkString(", ")}; " +
            s"it reads ${read.toSeq.map("--" + _).mkString(" ")}")
      c
    }
  }

  def parseArgs(argv: Seq[String]): Command = {
    val (pos, kv) = {
      var positional = Vector.empty[String]
      var kv = Map.empty[String, String]
      var rest = argv.toList
      while (rest.nonEmpty) rest match {
        case flag :: t if flag.startsWith("--") && boolFlags(flag.stripPrefix("--")) =>
          kv += (flag.stripPrefix("--") -> "true"); rest = t
        case flag :: v :: t if flag.startsWith("--") =>
          kv += (flag.stripPrefix("--") -> v); rest = t
        case flag :: _ if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"flag $flag needs a value")
        case p :: t => positional :+= p; rest = t
        case Nil    =>
      }
      (positional, kv)
    }
    if (pos.length != 2)
      throw new IllegalArgumentException(
        "usage: GraftApp <env> <table|t1,t2|all> [--strict] [one of " +
          modeFlags.map("--" + _).mkString(", ") +
          " and its flags]; no mode flag runs the catalog copy")
    // Sub-forms are picked by the flag that selects their operator.
    val modes = modeFlags.filter(kv.contains)
    val name = modes match {
      case Seq() => "copy"
      case Seq("stream") if kv.contains("pq-store") =>
        // The PQ drain has no fingerprint ledger or corpus sink, so a
        // --ledger (or --sink) alongside --pq-store means the caller
        // expected the dedup pipeline.
        if (kv.contains("ledger") || kv.contains("sink"))
          throw new IllegalArgumentException(
            "--stream --pq-store is the PQ-ingest drain (no ledger, no sink); " +
              "it cannot combine with --ledger/--sink — pick ONE stream mode")
        "--stream --pq-store"
      case Seq("delete-ids") if kv.contains("pq-store") => "--delete-ids --pq-store"
      case Seq("delete-ids") if kv.contains("ledger")   => "--delete-ids --ledger"
      case Seq(m) => "--" + m
      case ms => throw new IllegalArgumentException(
        s"${ms.map("--" + _).mkString(" and ")} are separate commands; " +
          "run them as separate invocations")
    }
    val f = new Flags(name, modes.headOption, pos(0), pos(1), kv)
    f.done(name match {
      case "copy" => Copy(f.env, f.table, f.str("tables-list-path", "tables_list"),
        f.source, f.sink, f.str("state", "graft_state.properties"), f.saveMode,
        f.int("parallelism", 4),
        f.opt("table-timeout-sec").fold(Duration.Inf: Duration)(_.toLong.seconds),
        f.flag("strict"))
      case "--stream" | "--stream --pq-store" =>
        val (srcFmt, srcDir) =
          PipelineConfig.parseEndpoint(f.req("source", "parquet:<dir>"))
        if (srcFmt != "parquet")
          throw new IllegalArgumentException(
            s"stream mode reads a parquet file-stream directory; got --source $srcFmt")
        if (f.table.equalsIgnoreCase("all") || f.table.contains(","))
          throw new IllegalArgumentException("stream mode ingests ONE table; got: " + f.table)
        val ckpt = f.req("checkpoint", "<dir> (streaming checkpoint)")
        if (name == "--stream --pq-store")
          StreamPq(f.table, srcDir, f.req("pq-store"), ckpt, f.str("vec-col", "embedding"),
            f.str("id-col", "doc_id"))
        else {
          val idem = f.sink.getOrElse(throw new IllegalArgumentException(
            "--stream requires --sink parquet-idempotent:<dir>")) match {
            case s: IdempotentSink => s
            case other => throw new IllegalArgumentException(
              "stream mode needs an idempotent sink (an epoch replay must REPLACE " +
                s"its partial write, not append it twice); got ${other.getClass.getSimpleName} " +
                "— use --sink parquet-idempotent:<dir>")
          }
          StreamDedup(f.table, srcDir, idem,
            f.req("ledger", "<dir> (persistent fingerprint ledger)"), ckpt,
            f.oneOf("dedup", "exact", "exact", "neardup", "embed", "semantic"),
            f.str("text-col", "text"), f.str("id-col", "doc_id"),
            f.str("vec-col", "embedding"), f.double("min-cos", 0.9), f.int("k", 8))
        }
      case "--compact-ledger" => CompactLedger(f.req("ledger"))
      case "--fold-epochs" => FoldEpochs(f.req("ledger"), f.req("checkpoint"))
      case "--export-shards" => ExportShards(f.env, f.table, f.source, f.req("export-dir"),
        f.str("id-col", "doc_id"), f.list(f.str("content-cols", "text")),
        f.int("shards", 16), f.opt("seed").fold(7L)(_.toLong))
      case "--verify-export" => VerifyExport(f.req("export-dir"), f.str("id-col", "doc_id"),
        f.list(f.str("content-cols", "text")), f.opt("seed").fold(7L)(_.toLong))
      case "--scrub-spans" => ScrubSpans(f.env, f.table, f.source, f.sink, f.saveMode,
        f.str("text-col", "text"), f.str("id-col", "doc_id"), f.int("span-tokens", 8),
        f.int("min-docs", 2))
      case "--epoch-shuffle" => EpochShuffle(f.env, f.table, f.source, f.sink, f.saveMode,
        f.str("id-col", "doc_id"), f.req("epoch-shuffle").toLong)
      case "--delete-ids --pq-store" =>
        DeletePq(f.ids, f.req("audit-dir"), f.req("pq-store"), f.str("id-col", "doc_id"))
      case "--delete-ids --ledger" =>
        val (ids, audit, ledger) = (f.ids, f.req("audit-dir"), f.req("ledger"))
        val corpus = f.req("corpus-dir", "P (the ledger's erase keys derive from the " +
          "corpus rows — run before the corpus delete)")
        DeleteLedger(ids, audit, ledger, corpus, f.str("text-col", "text"),
          f.str("vec-col", "embedding"), f.str("id-col", "doc_id"), f.flag("hash-audit"))
      case "--delete-ids" => DeleteCorpus(f.ids, f.req("audit-dir"), f.req("corpus-dir"),
        f.str("id-col", "doc_id"))
      case "--zorder" =>
        val v = f.req("zorder")
        val cols = f.list(v)
        if (cols.size < 2 || cols.size > 6)
          throw new IllegalArgumentException(
            s"--zorder wants 2..6 columns, got ${cols.size}: $v")
        Zorder(cols, f.req("corpus-dir"), f.req("out-dir"), f.int("z-bits", 16),
          f.int("z-files", 64))
      case "--heavy-hitters" => HeavyHitters(f.req("heavy-hitters"), f.req("corpus-dir"),
        f.req("out-dir"), f.int("capacity", 4096), f.int("k", 8), f.flag("tokenize"))
      case "--pq-encode" =>
        val c = PqEncode(f.req("corpus-dir"), f.req("out-dir"), f.str("vec-col", "embedding"),
          f.str("id-col", "doc_id"), f.int("pq-m", 4), f.int("pq-k", 256),
          f.int("pq-iters", 2), f.int("pq-coarse-k", 256), f.flag("residual"),
          f.flag("balanced-perm"), f.int("refine-m", 0), f.int("refine-k", 0))
        if ((c.refineM > 0) != (c.refineK > 0))
          throw new IllegalArgumentException(
            s"--refine-m and --refine-k come as a pair: ${c.refineM} / ${c.refineK}")
        c
      case "--pq-append" => PqAppend(f.req("corpus-dir"), f.req("out-dir"),
        f.req("pq-epoch", "TOKEN"), f.str("vec-col", "embedding"), f.str("id-col", "doc_id"))
      case "--pq-search" =>
        val c = PqSearch(f.req("corpus-dir", "P (the queries)"), f.req("pq-store"),
          f.req("out-dir"), f.str("vec-col", "embedding"), f.str("id-col", "doc_id"),
          f.int("k", 8), f.int("nprobe", 1), f.flag("residual"), f.int("rerank", 0),
          f.opt("rerank-corpus"))
        require(c.rerank >= 0, s"--rerank must be non-negative: ${c.rerank}")
        if (c.rerank > 0 && c.rerank < c.k)
          throw new IllegalArgumentException(
            s"--rerank ${c.rerank} must be >= --k ${c.k}: the exact pass re-ranks a " +
              "SHORTLIST of R candidates and cuts it to k")
        c
      case "--pq-audit" =>
        PqAudit(f.req("pq-store"), f.req("out-dir"), f.str("id-col", "doc_id"))
      case "--pq-rebalance" => PqRebalance(f.req("pq-store"),
        f.req("corpus-dir", "P (the raw vectors — the split re-fits hot cells)"),
        f.req("out-dir", "NEW"), f.str("vec-col", "embedding"), f.str("id-col", "doc_id"),
        f.opt("max-cell").fold(1L << 22)(_.toLong), f.int("pq-iters", 2))
      case "--pq-fold" => PqFold(f.req("pq-store"), f.req("checkpoint"))
      case "--ann-recall" => AnnRecall(f.req("pq-store"),
        f.req("corpus-dir", "P (the raw vectors — exact ground truth needs them)"),
        f.str("vec-col", "embedding"), f.str("id-col", "doc_id"), f.int("k", 8),
        f.int("queries", 20), f.int("nprobe", 1), f.int("rerank", 0))
      case "--dedup-recall" => DedupRecall(f.req("ledger"),
        f.req("corpus-dir", "P (the docs/vectors the pipeline ingests — the ledger " +
          "holds survivors only, a selection-biased audit base)"),
        f.str("text-col", "text"), f.str("vec-col", "embedding"), f.str("id-col", "doc_id"),
        f.double("min-jaccard", 0.8), f.int("queries", 20))
      case "--exact-neardup" => ExactNeardup(f.req("corpus-dir"), f.req("out-dir"),
        f.str("text-col", "text"), f.str("id-col", "doc_id"), f.double("tau", 0.8))
    })
  }

  /** Connection resolution is PER SIDE: an explicit override wins and its
    * side's config (env vars, JDBC creds) is never consulted — overriding
    * only --sink must not demand GRAFT_SINK or TARGET_DB_* to exist. */
  private def sourceOf(env: String, over: Option[Source], getenv: String => Option[String]) =
    over.getOrElse(PipelineConfig.loadEndpoint(env, "SOURCE", getenv).asSource)
  private def sinkOf(env: String, over: Option[Sink], getenv: String => Option[String]) =
    over.getOrElse(PipelineConfig.loadEndpoint(env, "TARGET", getenv).asSink)

  /** A committed streaming batch never re-executes, so the checkpoint's
    * commit log — never a human-stated batch id — is the fold horizon. */
  private def replayHorizon(spark: SparkSession, ckpt: String): Long =
    MaintenanceOps.lastCommittedBatch(spark, ckpt).getOrElse(throw new IllegalStateException(
      s"no commit log at $ckpt/commits - cannot establish a replay horizon, refusing to fold"))

  /** Testable core; returns the process exit code. */
  def run(
      cmd: Command,
      spark: SparkSession,
      getenv: String => Option[String] = k => sys.env.get(k),
      out: String => Unit = println,
      log: String => Unit = s => System.err.println(s"[graft] $s")): Int = cmd match {

    case c: Copy => runCopy(c, spark, getenv, out, log)

    case c: StreamPq =>
      // Round 14: each epoch encodes against the store's pinned model and
      // replaces its own codes partitions — the store is the
      // product, so no sink or fingerprint ledger is involved.
      drain(spark, c.table, c.sourceDir, c.checkpoint, out, log)(
        StreamingOps.foreachBatchLedgerPqEncode(_, c.vecCol, c.idCol, c.store))

    case c: StreamDedup =>
      // --dedup selects the corpus-wide ledger operator the drain flows
      // through: exact fingerprints (default), MinHash band near-dup, the
      // cosine-verified SRP embedding near-dup, or k-means SemDeDup
      // against a pinned model — all sharing the epoch-replay
      // exactly-once protocol.
      drain(spark, c.table, c.sourceDir, c.checkpoint, out, log) { w =>
        c.dedup match {
          case "exact" => StreamingOps.foreachBatchLedgerDedup(
            w, c.textCol, c.idCol, c.ledger, c.sink, c.table)
          case "neardup" => StreamingOps.foreachBatchLedgerNeardup(
            w, c.textCol, c.idCol, c.ledger, c.sink, c.table)
          case "embed" => StreamingOps.foreachBatchLedgerNeardupVec(
            w, c.vecCol, c.idCol, c.ledger, c.sink, c.table, minCos = c.minCos)
          case "semantic" => StreamingOps.foreachBatchLedgerSemantic(
            w, c.vecCol, c.idCol, c.ledger, c.sink, c.table, k = c.k, minCos = c.minCos)
        }
      }

    // Ledger maintenance: compact the band-ledger directory (file counts
    // dominate the per-batch ledger read after enough epochs). Run it
    // between drains; construction metadata and the epoch partition
    // layout are preserved (MaintenanceOps.compactLedger).
    case c: CompactLedger =>
      val r = MaintenanceOps.compactLedger(spark, c.ledger)
      out(s"COMPACT_LEDGER_ files=${r.filesBefore}->${r.filesAfter} rows=${r.rows}")
      0

    // Epoch folding: anything newer than the replay horizon must keep its
    // own partition for replay overwrite.
    case c: FoldEpochs =>
      val horizon = replayHorizon(spark, c.checkpoint)
      val r = MaintenanceOps.foldEpochs(spark, c.ledger, Ledger.spaceAt(spark, c.ledger),
        horizon)
      out(s"FOLD_EPOCHS_ upTo=$horizon files=${r.filesBefore}->${r.filesAfter} rows=${r.rows}")
      0

    // Export integrity: write deterministic id-hash shards + the
    // order-independent manifest, then IMMEDIATELY verify the files just
    // written (write-then-verify — an export that cannot be re-derived
    // from disk never reports success). --verify-export alone re-checks an
    // existing export (the consumer-side trust step); any damage throws
    // with the shard named.
    case c: ExportShards =>
      val df = sourceOf(c.env, c.source, getenv).read(spark, c.table)
      ExportOps.shardedExport(df, c.exportDir, c.idCol, c.contentCols, c.shards, c.seed)
      out(s"EXPORT_SHARDS_ dir=${c.exportDir} shards=${c.shards}")
      run(VerifyExport(c.exportDir, c.idCol, c.contentCols, c.seed), spark, getenv, out, log)

    case c: VerifyExport =>
      ExportOps.verifyShards(spark, c.exportDir, c.idCol, c.contentCols, c.seed)
      out(s"VERIFY_EXPORT_ dir=${c.exportDir} OK")
      0

    // Curation batch passes: read the table from the source side, apply
    // the operator, write the result through the sink side — the copy
    // path's per-side endpoint resolution. Span surgery rewrites the
    // corpus minus cross-document duplicate windows (DedupOps.scrubSpans)
    // as a round-trippable rewrite: every other column preserved and the
    // scrubbed text back under its original name, so a follow-up pass
    // reads --text-col unchanged.
    case c: ScrubSpans =>
      val df = sourceOf(c.env, c.source, getenv).read(spark, c.table)
      val scrubbed = DedupOps.scrubSpans(df, c.textCol, c.idCol, c.spanTokens, c.minDocs)
        .withColumnRenamed("clean_text", c.textCol)
      sinkOf(c.env, c.sink, getenv).write(df.drop(c.textCol).join(scrubbed, Seq(c.idCol)),
        c.table, c.mode)
      out(s"SCRUB_SPANS_ table=${c.table} spanTokens=${c.spanTokens} minDocs=${c.minDocs}")
      0

    // The epoch shuffle writes the reproducible epoch ORDER (part files
    // land in range-partition order — the concatenation is the epoch's
    // order).
    case c: EpochShuffle =>
      val df = sourceOf(c.env, c.source, getenv).read(spark, c.table)
      sinkOf(c.env, c.sink, getenv).write(SamplingOps.epochShuffle(df, c.idCol, c.epoch),
        c.table, c.mode)
      out(s"EPOCH_SHUFFLE_ table=${c.table} epoch=${c.epoch}")
      0

    // E153 takedown reach into the PQ STORE's code namespaces (id-keyed
    // derived rows).
    case c: DeletePq =>
      val rs = PqOps.pqStoreDelete(spark, c.store, c.idCol, c.ids, c.auditDir)
      out(s"DELETE_PQ_ requested=${c.ids.size} " +
        rs.toSeq.sortBy(_._1).map { case (ns, r) =>
          s"$ns:deleted=${r.deleted},rows=${r.rowsBefore}->${r.rowsAfter}," +
            s"leaves=${r.leavesRewritten}"
        }.mkString(" "))
      0

    // E153 takedown reach into a ledger. The ledger's space names the
    // columns a takedown matches; their values derive from the corpus
    // rows (which must still hold the ids — run the ledger delete BEFORE
    // the corpus delete): the ingest's fingerprint pair recomputed from
    // --text-col, or the stored vector from --vec-col.
    case c: DeleteLedger =>
      val space = Ledger.spaceAt(spark, c.ledger)
      if (space.eraseKeys.isEmpty)
        throw new IllegalArgumentException(
          s"${c.ledger} is a ${space.name}, which keeps no per-document rows to erase")
      val docs = spark.read.parquet(c.corpusDir)
        .filter(col(c.idCol).isInCollection(c.ids.distinct))
      val keys =
        if (space == Ledger.Fingerprints) DedupOps.withFingerprints(docs, c.textCol)
        else docs.withColumn("_graft_vec", col(c.vecCol))
      val r = MaintenanceOps.ledgerDelete(
        spark, c.ledger, space.eraseKeys, keys, c.auditDir, hashKeys = c.hashAudit)
      out(s"DELETE_LEDGER_ requested=${c.ids.size} deleted=${r.deleted} " +
        s"notFound=${r.notFound} rows=${r.rowsBefore}->${r.rowsAfter} " +
        s"leaves=${r.leavesRewritten}")
      if (r.deleted == 0L && r.notFound > 0L)
        out(s"DELETE_LEDGER_WARN_ every requested key audited found=false — " +
          "the ids are already erased, or --corpus-dir, --text-col or --vec-col " +
          "does not hold the rows this ledger ingested")
      0

    // Governance: audited targeted delete, in place over a parquet corpus
    // directory (atomic rewrite-then-swap, tombstone audit written BEFORE
    // the swap — MaintenanceOps.targetedDelete). The corpus dir is named
    // directly (not via a source endpoint): an in-place rewrite must know
    // exactly which directory it owns.
    case c: DeleteCorpus =>
      val r = MaintenanceOps.targetedDelete(spark, c.corpusDir, c.idCol, c.ids, c.auditDir)
      out(s"DELETE_IDS_ requested=${c.ids.size} deleted=${r.deleted} " +
        s"notFound=${r.notFound} rows=${r.rowsBefore}->${r.rowsAfter}")
      0

    // Layout: Z-order re-cluster into a NEW directory (the clustered write
    // is a full rewrite — pointing readers at the new dir is the caller's
    // cutover step, kept explicit rather than swapped in place).
    case c: Zorder =>
      MaintenanceOps.zorderClusterN(
        spark.read.parquet(c.corpusDir), c.outDir, c.cols, c.bits, c.files)
      out(s"ZORDER_ cols=${c.cols.mkString(",")} bits=${c.bits} " +
        s"files=${c.files} out=${c.outDir}")
      0

    // Profiling: heavy-hitter report (E136) — the top-k dominating values
    // (or tokens, with --tokenize) of a column, Misra–Gries fixed-memory
    // sketch, the exact error mass on every row. Writes the (value, est,
    // err_max) parquet to a NEW directory and says the error out loud:
    // est ≤ true ≤ est + err_max.
    case c: HeavyHitters =>
      val corpus = spark.read.parquet(c.corpusDir)
      val hits = (if (c.tokenize)
        SketchOps.heavyHitterTokens(corpus, c.column, c.capacity, c.k)
      else
        SketchOps.heavyHitters(corpus, c.column, c.capacity, c.k))
        .localCheckpoint(true)
      hits.write.mode(SaveMode.Overwrite).parquet(c.outDir)
      // An empty corpus explodes to zero rows — report err 0, not a crash.
      val err = hits.select("err_max").take(1).headOption
        .map(_.getLong(0)).getOrElse(0L)
      out(s"HEAVY_HITTERS_ col=${c.column} tokenize=${c.tokenize} " +
        s"capacity=${c.capacity} k=${c.k} err_max=$err out=${c.outDir}")
      0

    // Product-quantization artifacts (E139/E142) — fit the m subspace
    // codebooks AND the coarse quantizer, encode the corpus, and write the
    // full IVFADC artifact set (`codebooks/`, `coarse/`, `codes/`
    // partitioned by cell so searches partition-prune, all under the
    // `_graft_pq_construction` pin, written FIRST). Like --zorder, a full
    // rewrite into a NEW directory. --balanced-perm derives the E147
    // variance-balanced permutation from the corpus and builds the WHOLE
    // store in the permuted space; the pin carries the array, so searches
    // and appends permute themselves.
    case c: PqEncode =>
      val corpus = spark.read.parquet(c.corpusDir)
      val perm =
        if (c.balancedPerm) Some(PqOps.balancedPerm(corpus, c.vecCol, c.m)) else None
      val arts = PqOps.writePqArtifacts(
        spark, corpus, c.vecCol, c.idCol, c.outDir,
        c.m, c.k, c.iters, c.coarseK, c.iters,
        residual = c.residual, perm = perm,
        refineM = c.refineM, refineK = c.refineK)
      out(s"PQ_ENCODE_ m=${c.m} k=${c.k} iters=${c.iters} " +
        s"subDim=${arts.model.subDim} coarseK=${c.coarseK} " +
        s"residual=${c.residual} balancedPerm=${c.balancedPerm} " +
        s"refineM=${c.refineM} refineK=${c.refineK} out=${c.outDir}")
      0

    // Incremental PQ encode (E143) — today's crawl encoded against the
    // PINNED codebooks + coarse quantizer (construction pin
    // REQUIRE-matched), landing in its own epoch partition with dynamic
    // overwrite so at-least-once replay is idempotent (the E109 protocol).
    case c: PqAppend =>
      val pending = PqOps.incrementalPqEncode(
        spark, spark.read.parquet(c.corpusDir), c.vecCol, c.idCol, c.outDir, c.epoch)
      val n = pending.codes.count()
      pending.commitLedger()
      out(s"PQ_APPEND_ epoch=${c.epoch} lifetime_code_rows=$n out=${c.outDir}")
      0

    // IVFADC search over the stored artifacts (E142): top-k per query by
    // ADC within the nprobe nearest cells, results written to a NEW
    // directory. The search is ROUTED BY THE STORE'S PINNED FORMULATION
    // (raw vs residual codes); --residual declares the caller's
    // expectation and refuses a mismatched store. --rerank R with
    // --rerank-corpus is the two-stage IVFADC+R (E145): shortlist top-R by
    // ADC, exact re-rank from the raw vectors, cut to k. --rerank R
    // WITHOUT it (E148) re-ranks from the store's refinement codes — no raw
    // vector read anywhere — and refuses a store without them.
    case c: PqSearch =>
      val arts = PqOps.readPqArtifacts(spark, c.store)
      val queries = spark.read.parquet(c.queriesDir)
        .select(col(c.idCol).as("query_id"), col(c.vecCol))
      val expect = if (c.residual) Some(true) else None
      val res =
        if (c.rerank > 0) c.rerankCorpus match {
          case Some(cdir) =>
            val short = PqOps.searchArtifacts(
              arts, c.idCol, queries, "query_id", c.vecCol,
              topN = c.rerank, nprobe = c.nprobe, expectResidual = expect)
            PqOps.refine(
              short, spark.read.parquet(cdir), c.vecCol, c.idCol,
              queries, "query_id", topN = c.k)
          case None =>
            PqOps.searchArtifactsRefined(
              arts, c.idCol, queries, "query_id", c.vecCol,
              topR = c.rerank, topN = c.k, nprobe = c.nprobe,
              expectResidual = expect)
        } else PqOps.searchArtifacts(
          arts, c.idCol, queries, "query_id", c.vecCol,
          topN = c.k, nprobe = c.nprobe, expectResidual = expect)
      res.write.mode(SaveMode.Overwrite).parquet(c.outDir)
      val n = spark.read.parquet(c.outDir).count()
      out(s"PQ_SEARCH_ k=${c.k} nprobe=${c.nprobe} residual=${arts.residual} " +
        s"rerank=${c.rerank} " +
        s"rerankSource=${if (c.rerank == 0) "none" else if (c.rerankCorpus.isDefined) "corpus" else "codes"} " +
        s"result_rows=$n out=${c.outDir}")
      0

    // Store audit (E149): per-cell population + decode distortion from the
    // stored codes' dist columns — the store's health report without
    // reading one raw corpus vector.
    case c: PqAudit =>
      val arts = PqOps.readPqArtifacts(spark, c.store)
      PqOps.pqAudit(arts, c.idCol).write.mode(SaveMode.Overwrite).parquet(c.outDir)
      val rows = spark.read.parquet(c.outDir)
        .select(col("population"))
        .collect().map(_.getLong(0))
      val (cells, pop) = (rows.length, rows.sum)
      val skew = if (rows.isEmpty) 0.0 else rows.max.toDouble * cells / math.max(1L, pop)
      out(f"PQ_AUDIT_ cells=$cells population=$pop maxCellSkew=$skew%.2f " +
        s"refined=${arts.refinement.isDefined} out=${c.outDir}")
      0

    // Rebalance (E150/E151): split the store's hot cells (population >
    // --max-cell) by a local per-cell k-means into a FRESH store dir with
    // the pinned codebooks reused.
    case c: PqRebalance =>
      val (arts, nHot) = PqOps.rebalanceStore(
        spark, c.store, spark.read.parquet(c.corpusDir), c.vecCol, c.idCol,
        c.outDir, c.maxCell, c.iters)
      out(s"PQ_REBALANCE_ hotCells=$nHot coarseK=${arts.coarse.length} " +
        s"maxCell=${c.maxCell} out=${c.outDir}")
      0

    // PQ epoch fold (E152): collapse committed `epoch<N>` code partitions
    // into base, both code namespaces in lockstep. The merged write is a
    // full-row distinct of deterministic rows, so a crashed fold converges
    // on re-run.
    case c: PqFold =>
      val horizon = replayHorizon(spark, c.checkpoint)
      val rs = PqOps.foldPqEpochs(spark, c.store, horizon)
      out(s"PQ_FOLD_ upTo=$horizon " + rs.toSeq.sortBy(_._1).map { case (ns, r) =>
        s"$ns:files=${r.filesBefore}->${r.filesAfter},rows=${r.rows}"
      }.mkString(" "))
      0

    // Recall audit (E154): recall@k of the store's pinned searcher vs
    // exact L2 ground truth on a deterministic query sample, printed WITH
    // the store's construction pin: recall without provenance is noise.
    case c: AnnRecall =>
      val r = PqOps.annRecall(
        PqOps.readPqArtifacts(spark, c.store), spark.read.parquet(c.corpusDir),
        c.vecCol, c.idCol, k = c.k, nQueries = c.nQueries, nprobe = c.nprobe, topR = c.rerank)
      out(f"ANN_RECALL_ k=${c.k} nprobe=${c.nprobe} queries=${c.nQueries} " +
        s"rerank=${c.rerank} recall=$r " +
        s"pin=[${PqOps.pinLine(spark, c.store)}]")
      0

    // Dedup-ledger recall audit (E155): exact Jaccard/cosine ground truth
    // on a deterministic sample vs the banded candidate path at the
    // LEDGER's pinned construction. The space is the ledger's own
    // (Ledger.spaceAt); the SRP pin contributes its own verify threshold,
    // the MinHash space takes --min-jaccard.
    case c: DedupRecall =>
      def notBand(cause: Throwable) = throw new IllegalArgumentException(
        s"${c.ledger} carries neither ${Ledger.MinhashBands.pin.get.file} nor " +
          s"${Ledger.SrpBands.pin.get.file} — not a band ledger, or " +
          "its construction pin is lost (restore it; the audit refuses " +
          "to band at guessed parameters)", cause)
      val space =
        try Ledger.spaceAt(spark, c.ledger)
        catch { case e: IllegalArgumentException => notBand(e) }
      val r =
        if (space == Ledger.SrpBands)
          SrpOps.dedupRecall(spark, c.ledger,
            spark.read.parquet(c.corpusDir), c.vecCol, c.idCol, c.nQueries)
        else if (space == Ledger.MinhashBands)
          LshOps.dedupRecall(spark, c.ledger,
            spark.read.parquet(c.corpusDir), c.textCol, c.idCol, c.minJaccard, c.nQueries)
        else notBand(null)
      out(s"DEDUP_RECALL_ queries=${r.nQueries} withTruth=${r.queriesWithTruth} " +
        s"truePairs=${r.truePairs} matched=${r.matchedPairs} " +
        s"recall=${r.recall} pin=[${r.pin}]")
      0

    // The EXACT near-dup pair report (E131) — every pair with shingle-set
    // Jaccard >= tau, provably complete (prefix-filtered, not banded),
    // shingle width from the corpus-regime rule. Acting on it (purge,
    // cluster, delete) stays the caller's explicit step.
    case c: ExactNeardup =>
      val docs = spark.read.parquet(c.corpusDir)
      val n = LshOps.autoShingleN(docs, c.textCol)
      val pairs = SetJoinOps.prefixJaccardJoin(
        docs.select(col(c.idCol),
          graft.functions.TextFunctions.shingles(col(c.textCol), n).as("_sh")),
        c.idCol, "_sh", c.tau)
      pairs.write.mode(SaveMode.Overwrite).parquet(c.outDir)
      out(s"EXACT_NEARDUP_ tau=${c.tau} shingleN=$n pairs=${pairs.count()} out=${c.outDir}")
      0
  }

  private def runCopy(
      a: Copy,
      spark: SparkSession,
      getenv: String => Option[String],
      out: String => Unit,
      log: String => Unit): Int = {
    val source = sourceOf(a.env, a.source, getenv)
    val sink = sinkOf(a.env, a.sink, getenv)

    val requested =
      if (a.tableArg.equalsIgnoreCase("all")) None
      else Some(a.tableArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val specs = Catalog.load(spark, a.tablesListPath, requested, warn = log)
    if (specs.isEmpty) {
      log(s"no tables found to process for '${a.tableArg}' in ${a.tablesListPath}")
      return 1
    }
    log(s"tables to process: ${specs.map(_.tableName).mkString(", ")}")

    val store = StateStore(a.statePath)
    // Watermark injection: when the orchestrator supplies
    // LAST_WATERMARK_<TABLE>, that value IS this run's watermark — it
    // overrides stored state for the READ, exactly as in the reference
    // where the env var is consulted each run (app.py:100-117). The
    // override is RUN-SCOPED: it is never written to the durable store, so
    // a failed forced re-copy cannot permanently rewind state; only a
    // successful copy's post-commit watermark persists.
    val injected = (for {
      spec <- specs
      v <- getenv(s"LAST_WATERMARK_${spec.tableName.toUpperCase}")
      if v.trim.nonEmpty && !v.equalsIgnoreCase("none")
    } yield spec.tableName -> v.trim).toMap
    val state: WatermarkState =
      if (injected.isEmpty) store else new RunOverrides(store, injected)

    val report = Orchestrator.runAll(
      spark, specs, source, sink, state, a.mode, a.parallelism, a.tableTimeout)

    for ((t, r) <- report.succeeded.toSeq.sortBy(_._1)) {
      val status = if (r.skipped) "skipped (empty delta)" else s"${r.rowsCopied} rows"
      log(s"table $t: $status")
      r.newWatermark.foreach(w => out(s"NEW_WATERMARK_${t.toUpperCase}=${w.serialized}"))
    }
    for ((t, e) <- report.failed.toSeq.sortBy(_._1))
      log(s"table $t FAILED: ${e.getMessage}")

    // Per-table errors continue (app.py:175-177) and do not fail the run —
    // by default, for reference parity. `--strict` opts into a non-zero
    // exit when any table failed, so an orchestrator can distinguish
    // "everything copied" from "silently all-failed" without log scraping.
    if (a.strict && report.failed.nonEmpty) 1 else 0
  }

  /** Streaming ingest (`--stream`) — the sandbox analogue of the
    * reference's SCHEDULED incremental runs (`dags/…incremental.py`: a
    * daily drain of whatever arrived since the last run). Each invocation
    * starts a file-stream over the source directory with
    * `Trigger.AvailableNow`, processes every file not yet recorded in the
    * streaming checkpoint, and exits — so a scheduler (cron, Airflow) calls
    * the CLI exactly as it calls the batch mode, and the checkpoint plays
    * the watermark's role for files.
    *
    * Every dedup micro-batch flows through a ledger drain such as
    * [[graft.streaming.StreamingOps.foreachBatchLedgerDedup]]: corpus-wide
    * dedup against the persistent ledger, an epoch-keyed idempotent sink
    * write, then the ledger commit — so a crash at ANY point (including
    * after the sink write but before the checkpoint commit) replays the
    * epoch onto itself: exactly-once corpus output across restarts
    * (StreamAppSpec simulates the crash by deleting the checkpoint's last
    * commit marker).
    */
  private def drain(
      spark: SparkSession,
      table: String,
      srcDir: String,
      ckpt: String,
      out: String => Unit,
      log: String => Unit)(
      through: DataStreamWriter[Row] => DataStreamWriter[Row]): Int = {
    // File streams need an explicit schema; take it from the files already
    // present (a directory with no files yet has nothing to ingest anyway).
    // Read on the driver from one footer: no Spark job.
    val schema =
      try Connectors.readParquet(spark, srcDir).schema
      catch { case e: Throwable =>
        log(s"cannot infer schema from $srcDir (no parquet files yet?): ${e.getMessage}")
        return 1
      }
    val writer = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val q = through(writer).start()
    q.awaitTermination() // AvailableNow: returns once the backlog is drained
    // An idle drain still emits a zero-row progress event carrying the last
    // batch id — only batches that moved rows count as epochs.
    val epochs = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct.sorted
    log(s"stream drain of $srcDir complete: ${epochs.length} epoch(s) this run")
    out(s"STREAM_EPOCHS_${table.toUpperCase}=${epochs.mkString(",")}")
    0
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val cmd = parseArgs(argv.toIndexedSeq)
        val spark = graft.GraftSession
          .builder(s"local[${graft.GraftSession.defaultCpus}]")
          .getOrCreate()
        try run(cmd, spark)
        finally spark.stop()
      } catch {
        case e: Throwable =>
          System.err.println(s"[graft] fatal: ${e.getMessage}")
          1
      }
    if (code != 0) sys.exit(code)
  }
}
