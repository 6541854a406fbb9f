package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus, which is
  * private to Spark: the tracer waits for it to deliver every event of an
  * execution before attributing them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
