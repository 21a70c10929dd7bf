package org.apache.spark

/** Drains Spark's listener bus so every job, SQL and streaming event a
  * finished call posted has reached the benchmark's listeners before the
  * benchmark moves on. `waitUntilEmpty` is package-private to Spark. */
object GraftBenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
