package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: a
  * traced run reads its listeners only after every queued event has been
  * delivered, instead of sleeping and hoping.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
