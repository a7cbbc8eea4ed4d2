package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * job records are read only after every posted event was delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
