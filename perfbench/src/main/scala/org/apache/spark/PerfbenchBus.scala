package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark's counters are read only after every event posted before
  * the read has reached its listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
