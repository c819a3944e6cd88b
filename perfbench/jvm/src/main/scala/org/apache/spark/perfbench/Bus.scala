package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Flushes the asynchronous listener bus, so that the tracer has seen
  * every job, stage and task event of the ops run so far. Lives under
  * `org.apache.spark` only for the access modifier. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
