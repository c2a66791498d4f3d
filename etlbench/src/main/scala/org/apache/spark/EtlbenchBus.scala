package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait until every event of a span has been delivered before it reads the
  * span's counters.
  */
object EtlbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
