package org.apache.spark

/** Bridge into the `private[spark]` listener bus: lets the benchmark wait
  * until every event posted so far has reached its listener, instead of
  * sleeping a fixed time and hoping the bus caught up.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
