package org.apache.spark

/** Lets specs wait until every posted scheduler event has reached the
  * listeners; `waitUntilEmpty` is package-private to Spark. */
object ListenerBusAccess {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
