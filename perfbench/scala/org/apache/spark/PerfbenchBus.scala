package org.apache.spark

/** The listener bus's drain is `private[spark]`; the benchmark waits on
  * it so every job and task event of a traced run is handled before the
  * spans are rolled up.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
