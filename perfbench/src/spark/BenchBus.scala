package org.apache.spark

/** The listener bus is private to Spark; a traced run waits on it so
  * every job, stage, task and progress event is delivered before the
  * benchmark reads its listeners. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
