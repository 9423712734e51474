package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to drain, so a traced
  * pass's job, stage and task events are all counted before the pass's
  * figures are read. `waitUntilEmpty` is package-private to Spark. */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
