package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run must see every job event before it attributes jobs
  * to spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
