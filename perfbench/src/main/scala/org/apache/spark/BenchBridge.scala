package org.apache.spark

/** The one Spark-internal call the traced run needs: listener events
  * arrive asynchronously, so a span must wait for the bus to drain
  * before it reads the counters, or a job's last task lands in the
  * next span.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
