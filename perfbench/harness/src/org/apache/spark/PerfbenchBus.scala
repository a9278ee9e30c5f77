package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the tracer must see every job, stage and SQL-execution event of a span
  * before it aggregates, and the bus delivers them asynchronously.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
