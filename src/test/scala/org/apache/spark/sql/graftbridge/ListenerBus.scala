package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test access to the `private[spark]` listener bus. */
object ListenerBus {
  /** Block until every event already posted has reached its listeners, so a
    * count read right after an action sees all of that action's jobs
    * (sleep-polling until counts look stable can flake under load). */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
