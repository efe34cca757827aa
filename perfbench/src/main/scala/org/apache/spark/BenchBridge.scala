package org.apache.spark

/** The one `private[spark]` seam the traced run needs: listener events
  * arrive asynchronously, so before the trace is summarised the bus must
  * have delivered every task and job event of the run.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
