package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until the
  * listener bus has delivered every queued event, so counts read after an
  * op include all of that op's events.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
