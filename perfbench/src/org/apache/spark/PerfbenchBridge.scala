package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * event already posted to the listener bus has been delivered, so a
  * recorder snapshot taken right after a step sees all of that step's
  * jobs, tasks and streaming progress (sleep-polling does not). */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
