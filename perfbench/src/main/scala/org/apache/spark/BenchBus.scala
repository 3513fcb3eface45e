package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its listeners only after every posted event has been handled. The
  * bus's drain call is package-private, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
