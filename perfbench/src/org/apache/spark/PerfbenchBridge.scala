package org.apache.spark

/** The listener bus is `private[spark]`; draining it is the only way to
  * read a `SparkListener`'s counters for jobs that have just finished, so
  * this one-method shim lives inside the spark package namespace.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
