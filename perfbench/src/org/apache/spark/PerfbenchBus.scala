package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads per-pass counters only after every event of the
  * pass has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
