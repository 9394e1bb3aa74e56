package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a traced pass can
  * be closed (and its listeners removed) without losing its last events. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
