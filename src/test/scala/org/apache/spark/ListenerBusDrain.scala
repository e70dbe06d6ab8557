package org.apache.spark

/** Test-side access to the context's listener bus (`private[spark]`):
  * `apply` blocks until every event posted so far has been delivered to
  * every listener, so a listener's counts are final the moment it
  * returns — an exact wait where a fixed sleep only hopes.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
