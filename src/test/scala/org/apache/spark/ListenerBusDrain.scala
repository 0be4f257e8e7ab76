package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps package
  * private: counts kept by a listener are final only after it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
