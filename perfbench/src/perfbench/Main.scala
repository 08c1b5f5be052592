package perfbench

import graft.GraftSession
import graft.pipeline._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.concurrent.duration.Duration

/** JVM side of the benchmark (`perfbench/run.py` drives it):
  *
  * {{{
  * perfbench.Main probe <buildDir>
  * perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <checkout> <buildDir>
  * perfbench.Main selftest <checkout> <buildDir>
  * }}}
  *
  * Every mode prints `PERFBENCH_READY` once its session has finished one
  * trivial job (the set-up point `run.py` times). `run` ends with one
  * `PERFBENCH_RESULT {json}` line.
  */
object Main {
  val Cores = 4

  def session(build: String): SparkSession = {
    phase("main")
    val s = GraftSession.builder(s"local[$Cores]")
      .config("spark.local.dir", s"$build/tmp")
      .config("spark.sql.warehouse.dir", s"$build/tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    phase("session")
    s.range(1000).selectExpr("sum(id)").collect()
    phase("trivial job")
    println("PERFBENCH_READY")
    s
  }

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** A progress line with the JVM's uptime, for the run log. */
  def phase(what: String): Unit = System.err.println(s"[perfbench] $what after ${uptimeS()} s")

  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: build :: Nil =>
      session(build).stop()
    case "run" :: workload :: seed :: seconds :: trace :: checkout :: build :: Nil =>
      val spark = session(build)
      try {
        val w = Workload.named(workload)
        val (outcome, tally) = withCtx(spark, checkout, build, seed.toLong, seconds.toDouble) {
          (ctx, tally) => if (trace == "1") w.traced(ctx, tally) else w.measure(ctx, tally)
        }
        println("PERFBENCH_RESULT " + Json.result(tally, outcome))
      } finally {
        spark.stop()
        phase("stop")
      }
    case "selftest" :: checkout :: build :: Nil =>
      val spark = session(build)
      val (failures, _) =
        try withCtx(spark, checkout, build, 1L, 0.0)((ctx, _) => SelfTest.run(ctx))
        finally spark.stop()
      failures.foreach(f => println(s"FAIL $f"))
      println(if (failures.isEmpty) "SELFTEST OK" else s"SELFTEST FAILED (${failures.size})")
      if (failures.nonEmpty) sys.exit(1)
    case _ =>
      System.err.println("usage: perfbench.Main probe <build> | run <workload> <seed> " +
        "<seconds> <trace> <checkout> <build> | selftest <checkout> <build>")
      sys.exit(2)
  }

  /** Builds the base data once, then runs `f` in a fresh work tree that is
    * removed afterwards. */
  private def withCtx[A](spark: SparkSession, checkout: String, build: String, seed: Long,
      seconds: Double)(f: (Ctx, Tally) => A): (A, Tally) = {
    val base = s"$build/data/base-${Inputs.Scale}"
    Inputs.genBase(spark, base)
    val work = Files.createTempDirectory(Files.createDirectories(Paths.get(build, "work")), "run")
    val ctx = Ctx(spark, checkout, base, s"$build/data", work.toString, seed, seconds)
    val tally = new Tally
    phase("base data")
    try (f(ctx, tally), tally) finally {
      phase("workload")
      Fs.delete(work.toString)
    }
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  private def metric(m: Metric): String =
    s"""{"value": ${num(m.value)}, "unit": ${str(m.unit)}, "n": ${m.n}}"""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(t: Tally, o: Outcome): String = obj(Seq(
    "correct" -> (t.failed == 0).toString,
    "attempted" -> t.attempted.toString,
    "failed" -> t.failed.toString,
    "metrics" -> obj(o.metrics.toSeq.sortBy(_._1).map { case (k, m) => k -> metric(m) }),
    "report" -> obj(o.report.map { case (k, m) => k -> metric(m) }),
    "problems" -> t.problems.take(20).map(str).mkString("[", ", ", "]"),
    "notes" -> o.notes.map(str).mkString("[", ", ", "]")))
}

/** The benchmark's own tests. */
object SelfTest {
  def run(ctx: Ctx): Seq[String] =
    tailHelper() ++ decoratedMatchesPlain(ctx) ++ countersRepeat(ctx)

  private def check(ok: Boolean, what: String): Seq[String] = if (ok) Nil else Seq(what)

  /** The tail is the highest percentile with at least 10 samples beyond it. */
  def tailHelper(): Seq[String] = {
    val r = Seq(
      Stats.tail((1 to 20).map(_.toDouble)) -> Some(50 -> 10.0),
      Stats.tail((1 to 110).map(_.toDouble)) -> Some(90 -> 99.0),
      Stats.tail((1 to 10).map(_.toDouble)) -> None,
      Stats.tail(Seq.fill(30)(5.0)) -> None,
      Stats.tail(Seq.fill(20)(1.0) ++ (1 to 10).map(_ + 1.0)) -> Some(66 -> 1.0))
    r.zipWithIndex.flatMap { case ((got, want), i) =>
      check(got == want, s"tail case $i: got $got, want $want") }
  }

  private def cronSteps(ctx: Ctx, tag: String, decorated: Boolean)
      : (Seq[Map[String, CopyResult]], Array[Byte]) = {
    val plan = Inputs.incrPlan(ctx.spark, ctx.base, ctx.cache, ctx.seed)
    val d = ctx.dir(tag)
    Fs.copyTree(s"${plan.dir}/base", s"$d/src")
    val cat = s"${ctx.checkout}/tables_list"
    val tr = new Tracer(ctx.spark)
    def once(): RunReport =
      if (decorated) tr.copyRun("run", cat, s"$d/src", s"$d/sink", s"$d/state.properties")
      else Orchestrator.runAll(ctx.spark, Catalog.load(ctx.spark, cat, None, _ => ()),
        Connectors.source("parquet", s"$d/src"), Connectors.sink("parquet", s"$d/sink"),
        StateStore(s"$d/state.properties"), SaveMode.Append, 4, Duration.Inf)
    val reports = Seq(once()) ++ (0 until 2).flatMap { i =>
      for (t <- Seq("customer", "orders"))
        Inputs.dropFiles(plan.deltaFiles(i, t), s"$d/src/$t", s"delta$i")
      Seq(once(), once())
    }
    (reports.map(r => r.succeeded ++ r.failed.map { case (t, e) =>
      t -> CopyResult(t, -1, None, skipped = false) }),
      Files.readAllBytes(Paths.get(d, "state.properties")))
  }

  /** Decorated and undecorated copies return identical `CopyResult`s and
    * leave identical watermark state; a decorated idempotent sink is still
    * an `IdempotentSink`. */
  def decoratedMatchesPlain(ctx: Ctx): Seq[String] = {
    val (plain, plainState) = cronSteps(ctx, "plain", decorated = false)
    val (timed, timedState) = cronSteps(ctx, "timed", decorated = true)
    check(plain == timed, s"CopyResults differ:\n  plain $plain\n  timed $timed") ++
      check(java.util.Arrays.equals(plainState, timedState), "watermark state files differ") ++
      check(plain.forall(_.values.forall(_.rowsCopied >= 0)), s"a table failed: $plain") ++
      check(Timed.sink(Connectors.sink("parquet-idempotent", ctx.work), new Spans)
        .isInstanceOf[IdempotentSink], "decorated idempotent sink lost its type")
  }

  /** Record and byte counters of two traced replays agree exactly. */
  def countersRepeat(ctx: Ctx): Seq[String] = {
    val keys = Seq("copy.rows", "copy.skipped", "source.input_bytes", "source.input_records",
      "sink.output_bytes", "sink.output_records", "sink.files", "state.gets", "state.puts")
    def replay(tag: String): (Map[String, Double], Seq[String]) = {
      val tally = new Tally
      val o = IncrCron.traced(ctx.copy(work = ctx.dir(tag)), tally)
      (o.metrics.filter(kv => keys.contains(kv._1)).map { case (k, m) => k -> m.value },
        tally.problems.toSeq)
    }
    val (a, pa) = replay("replay1")
    val (b, pb) = replay("replay2")
    check(a == b, s"traced counters differ:\n  $a\n  $b") ++
      check(pa.isEmpty && pb.isEmpty, s"traced replay failed: ${(pa ++ pb).take(3)}") ++
      check(a("copy.rows") > 0, s"traced replay copied nothing: $a")
  }
}
