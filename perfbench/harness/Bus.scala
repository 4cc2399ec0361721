package org.apache.spark

/** Listener events reach the benchmark's probe asynchronously; a counter
  * read right after an action could miss its last task or job. Draining
  * the bus first makes every span's counts complete. Lives in Spark's
  * package because the bus is Spark-internal.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
