package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus flush, which Spark keeps package-private:
  * the tracer reads its counters only after every event posted so far
  * has reached the listener.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
