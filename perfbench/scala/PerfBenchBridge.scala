package org.apache.spark

/** The one package-private call the traced run needs: wait until the
  * listener bus has delivered every posted event.
  */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
