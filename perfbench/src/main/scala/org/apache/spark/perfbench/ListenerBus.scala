package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the benchmark reads its
  * listener's counters only after the bus has delivered everything posted
  * so far. `waitUntilEmpty` is Spark-internal, hence this one-line shim in
  * an `org.apache.spark` subpackage. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
