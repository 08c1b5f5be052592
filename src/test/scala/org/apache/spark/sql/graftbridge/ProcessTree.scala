package org.apache.spark.sql.graftbridge

/** Test access to Spark's `private[spark]` process-tree metrics reader. Its
  * first use in a JVM starts one `getconf PAGESIZE` process, and the
  * executor-metrics poller makes that first use at the first heartbeat,
  * whenever that lands. */
object ProcessTree {
  def init(): Unit = { org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo; () }
}
