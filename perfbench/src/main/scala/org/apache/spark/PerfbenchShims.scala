// Lives in org.apache.spark to reach the private[spark] listener bus.
package org.apache.spark

object PerfbenchShims {
  /** Blocks until the listener bus has delivered every event posted so
    * far, so a listener read after an action sees that action's jobs. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
