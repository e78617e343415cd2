package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * every queued listener event has been delivered, so an operation's
  * job, task and query events are all counted before its figures are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
