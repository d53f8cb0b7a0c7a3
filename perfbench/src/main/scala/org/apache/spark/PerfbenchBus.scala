package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer must see every job, stage, task and query event of an
  * iteration before it folds them into metrics.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
