package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * counts only after every event of the run has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
