package org.apache.spark

/** The listener bus delivers events asynchronously; a span's totals are
  * complete only once its queue is empty. `waitUntilEmpty` is
  * package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
