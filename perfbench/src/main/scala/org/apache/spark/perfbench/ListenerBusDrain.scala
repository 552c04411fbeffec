package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job, task and query-execution events
  * asynchronously. A span is closed only after every event posted inside it
  * has reached the listeners, so the benchmark drains the bus at each span
  * boundary. `waitUntilEmpty` is package-private to Spark, hence this
  * package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
