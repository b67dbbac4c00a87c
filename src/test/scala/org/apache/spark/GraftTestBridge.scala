package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count
  * jobs with a SparkListener drain the bus here before reading their
  * counters, instead of sleeping and hoping the events arrived. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
