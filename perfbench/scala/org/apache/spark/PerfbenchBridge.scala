package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * posted listener event has been delivered, so task metrics read right
  * after an action include all of that action's tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
