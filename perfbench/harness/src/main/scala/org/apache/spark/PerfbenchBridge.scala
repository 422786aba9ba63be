package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * listener event posted so far has been delivered, so a traced pass's
  * job/stage/task records are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
