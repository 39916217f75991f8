package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the benchmark waits for it to drain before reading its counters.
  */
object IngestBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
