package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable

/** Spark's own work counters for one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakMem = 0L
  /** Wall-clock ms of the group's last job end (0 = no job ended). */
  var lastJobEndMs = 0L

  def addTask(m: TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    inRecords += m.inputMetrics.recordsRead
    outBytes += m.outputMetrics.bytesWritten
    outRecords += m.outputMetrics.recordsWritten
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    peakMem = math.max(peakMem, m.peakExecutionMemory)
  }

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
    lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
  }
}

/** What the recorder saw between two snapshots. */
final case class Snapshot(
    groups: Map[String, Counters],
    progress: Seq[StreamingQueryProgress]) {
  def total: Counters = { val t = new Counters; groups.values.foreach(t += _); t }
}

/** Spark-side recorder for the traced replay: a `SparkListener` that sums
  * task metrics per job group (the Orchestrator runs each table copy in
  * its own `graft-copy-<i>-<table>` group) and a `StreamingQueryListener`
  * that keeps every micro-batch progress report. Registered only in the
  * traced run, so the untraced figures never pay for it. */
final class Recorder extends SparkListener {
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def acc(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val c = acc(g)
      c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "-")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      acc(stageGroup.getOrElse(e.stageId, "-")).addTask(e.taskMetrics)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
  }

  def unregister(spark: SparkSession): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streaming)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Everything recorded since the previous snapshot. Drains the bus
    * first, so all events of the finished step are counted. */
  def snapshot(spark: SparkSession): Snapshot = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      val s = Snapshot(groups.toMap, progress.toList)
      groups.clear(); stageGroup.clear(); jobGroup.clear(); progress.clear()
      s
    }
  }
}
