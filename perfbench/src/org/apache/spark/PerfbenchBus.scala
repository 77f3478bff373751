package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its listener counters only after every queued event has been handled.
  * `waitUntilEmpty` is `private[spark]`, hence this shim's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
