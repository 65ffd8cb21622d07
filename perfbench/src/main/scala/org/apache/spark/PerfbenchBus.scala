package org.apache.spark

/** Listener events are delivered asynchronously; the traced run reads
  * its listeners' buffers only after every queued event has been
  * handed to them. `listenerBus` is package-private to Spark, hence
  * this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
