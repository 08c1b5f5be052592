package graft.pipeline

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit, TimeoutException}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, Promise}
import scala.util.{Failure, Success, Try}

/** Run report for one pipeline execution — in-process replacement for the
  * reference's stdout/XCom contract (`/root/reference/app.py:168`,
  * `dags/...:52-79`).
  */
final case class RunReport(results: Map[String, Try[CopyResult]]) {
  def succeeded: Map[String, CopyResult] =
    results.collect { case (k, Success(v)) => k -> v }
  def failed: Map[String, Throwable] =
    results.collect { case (k, Failure(e)) => k -> e }
}

/** Bounded-parallel per-table execution with per-table fault isolation.
  *
  * The reference runs at most 4 concurrent Docker copy tasks
  * (`/root/reference/dags/data_pipeline_with_incremental.py:89-90`) and, in
  * CLI mode, logs-and-continues on per-table error
  * (`/root/reference/app.py:175-177`). Here: a fixed thread pool of
  * `parallelism` submits independent Spark jobs against the shared session
  * (Spark schedules them concurrently — the in-process analogue of the DAG's
  * parallel chains, SURVEY §2.1 R13), and each table is wrapped in `Try`.
  */
object Orchestrator {

  /** @param tableTimeout bound on how long any single table may run,
    *        measured from that table's own start. A hung source (dead JDBC
    *        endpoint, stuck filesystem) must not hang the WHOLE run
    *        forever: a table still running `tableTimeout` after it started
    *        is recorded as failed in the report, preserving the reference's
    *        per-table fault isolation (`app.py:175-177`) under hangs. The
    *        i-th table, if it has not started `(i / parallelism + 1) *
    *        tableTimeout` after submission (by then every table queued
    *        ahead of it has run out its clock), fails without starting, so
    *        `runAll` always returns. On timeout the stuck job is actively
    *        killed — its Spark job group is cancelled (aborting in-flight
    *        stages) and its pool thread interrupted — so a timed-out table
    *        cannot later wake up, commit its sink, and advance the
    *        watermark underneath an external retry. The one
    *        unavoidable window (sink already committed, state not yet
    *        written) is the standard hazard-2 crash window; pair with
    *        [[IdempotentSink]] to make the retry overwrite, not append.
    */
  def runAll(
      spark: SparkSession,
      specs: Seq[TableSpec],
      source: Source,
      sink: Sink,
      state: WatermarkState,
      mode: SaveMode = SaveMode.Append,
      parallelism: Int = 4,
      tableTimeout: Duration = Duration.Inf): RunReport = {

    val workers = math.max(1, parallelism)
    val pool = Executors.newFixedThreadPool(workers)
    // Each table's deadline fires on this timer, so one table's wait never
    // delays another's: a hung table dies `tableTimeout` after its start.
    val timer = Executors.newSingleThreadScheduledExecutor()
    try {
      val outcomes = specs.zipWithIndex.map { case (spec, i) =>
        val group = s"graft-copy-$i-${spec.tableName}"
        val outcome = Promise[CopyResult]()
        // Every transition — start, finish, kill — happens under `lock`, so
        // exactly one of them decides the outcome: a killed table never
        // starts, and a kill always targets a fully registered worker + job
        // group (never an interrupt landing on the pool thread AFTER it
        // moved on to another table). `worker` is null before the start
        // and after the finish.
        val lock = new Object
        var worker: Thread = null
        def kill(why: String): Unit = lock.synchronized {
          if (!outcome.isCompleted) {
            outcome.failure(new TimeoutException(s"table ${spec.tableName} $why"))
            spark.sparkContext.cancelJobGroup(group)
            Option(worker).foreach(_.interrupt())
          }
        }
        pool.execute { () =>
          val started = lock.synchronized {
            if (outcome.isCompleted) false
            else {
              worker = Thread.currentThread()
              spark.sparkContext.setJobGroup(group, s"copy ${spec.tableName}",
                interruptOnCancel = true)
              true
            }
          }
          if (started) {
            schedule(timer, tableTimeout)(kill(s"did not finish within $tableTimeout"))
            // Every throwable, the kill's InterruptedException included, is
            // this table's failure: the outcome must always complete.
            val result =
              try Success(CopyJob.run(spark, spec, source, sink, state, mode))
              catch { case e: Throwable => Failure(e) }
              finally spark.sparkContext.clearJobGroup()
            lock.synchronized {
              worker = null        // no further interrupts aimed here
              Thread.interrupted() // clear any that already landed
              outcome.tryComplete(result)
            }
          }
        }
        val queueWait = tableTimeout * (i / workers + 1).toDouble
        schedule(timer, queueWait) {
          lock.synchronized(if (worker == null) kill(s"did not start within $queueWait"))
        }
        spec.tableName -> outcome.future
      }
      RunReport(outcomes.map { case (name, f) =>
        name -> Await.ready(f, Duration.Inf).value.get
      }.toMap)
    } finally {
      timer.shutdownNow()
      pool.shutdown()
    }
  }

  private def schedule(timer: ScheduledExecutorService, after: Duration)(f: => Unit): Unit =
    if (after.isFinite)
      timer.schedule((() => f): Runnable, after.toNanos, TimeUnit.NANOSECONDS)
}
