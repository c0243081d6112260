package org.apache.spark

/** The listener bus is asynchronous: a traced pass must wait until every
  * event it caused has reached the benchmark's listeners before it reads
  * them or detaches them. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
