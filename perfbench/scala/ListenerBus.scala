package org.apache.spark

/** The listener bus is private to Spark. Traced runs wait for it to
  * drain at every span boundary, so that each span's counters hold
  * exactly the job, task and query events raised inside it.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
