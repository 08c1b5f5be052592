package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBus
import scala.collection.mutable

/** Counts the Spark jobs a block starts, per job group. Counts are exact:
  * the listener bus is drained before the listener is added and before the
  * counts are read, never sleep-polled. */
object JobCount {
  /** The group the calling thread runs `body` under. */
  val Caller = "job-count-caller"

  /** Jobs started by `body` in [[Caller]] and in the Orchestrator's
    * `graft-copy-*` groups (jobs of unrelated work in the shared session
    * are not counted). */
  def apply[T](spark: SparkSession)(body: => T): (T, Map[String, Int]) = {
    val counts = mutable.Map.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = counts.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(g => g == Caller || g.startsWith("graft-copy-"))
          .foreach(g => counts(g) = counts.getOrElse(g, 0) + 1)
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
