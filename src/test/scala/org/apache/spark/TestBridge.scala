package org.apache.spark

/** Listener events arrive asynchronously: a test that counts jobs or
  * inspects a finished query's plan must wait for the bus to drain
  * first, or the last events of the call land after its assertions.
  */
object TestBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
