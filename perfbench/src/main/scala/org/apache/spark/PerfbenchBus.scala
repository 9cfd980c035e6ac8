package org.apache.spark

/** Listener events arrive asynchronously on the listener bus; the bus itself
  * is `private[spark]`, so this one-liner lives in Spark's package. Draining
  * it before reading the tracer makes every job, task and query-execution
  * event of the finished operations visible. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
