package org.apache.spark

/** Waits until every registered listener has handled every event posted
 *  so far. The traced run calls it after each operation, so that the
 *  operation's jobs, stages and tasks are all recorded before the next
 *  operation starts. The listener bus is private to Spark, hence this
 *  object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
