package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer needs
  * it to read its listeners only after every posted event is delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
