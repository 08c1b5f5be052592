package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus
import scala.collection.mutable

/** Counts the Spark jobs, stages and shuffle-write bytes a block starts, per
  * job group. Counts are exact: the listener bus is drained before the
  * listener is added and before the counts are read, never sleep-polled. */
object JobCount {
  /** The group the calling thread runs `body` under. */
  val Caller = "job-count-caller"

  /** What one job group ran: jobs started, stages submitted (a stage whose
    * output is reused is not submitted) and the bytes its stages wrote to
    * shuffle. */
  final case class Work(jobs: Int, stages: Int, shuffleWriteBytes: Long)

  /** Jobs started by `body` in [[Caller]] and in the Orchestrator's
    * `graft-copy-*` groups (jobs of unrelated work in the shared session
    * are not counted). */
  def apply[T](spark: SparkSession)(body: => T): (T, Map[String, Int]) = {
    val (r, byGroup) = work(spark)(body)
    (r, byGroup.map { case (g, w) => g -> w.jobs })
  }

  /** The [[Work]] of `body`, per group, for the groups [[apply]] counts. */
  def work[T](spark: SparkSession)(body: => T): (T, Map[String, Work]) = {
    val counts = mutable.Map.empty[String, Work]
    val stageGroup = mutable.Map.empty[Int, String]
    def group(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(g => g == Caller || g.startsWith("graft-copy-"))
    def add(g: String)(f: Work => Work): Unit =
      counts(g) = f(counts.getOrElse(g, Work(0, 0, 0L)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
        group(e.properties).foreach(add(_)(w => w.copy(jobs = w.jobs + 1)))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = counts.synchronized {
        group(e.properties).foreach { g =>
          stageGroup(e.stageInfo.stageId) = g
          add(g)(w => w.copy(stages = w.stages + 1))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counts.synchronized {
        for (g <- stageGroup.get(e.stageInfo.stageId); m <- Option(e.stageInfo.taskMetrics))
          add(g)(w => w.copy(shuffleWriteBytes =
            w.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten))
      }
    }
    val sc = spark.sparkContext
    ListenerBus.drain(spark) // earlier jobs' events must not land in this count
    sc.addSparkListener(listener)
    sc.setJobGroup(Caller, "job count")
    try {
      val r = body
      ListenerBus.drain(spark)
      (r, counts.synchronized(counts.toMap))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
