package org.apache.spark

/** Drains Spark's listener bus so every event a finished call posted has
  * reached the test's listeners. `waitUntilEmpty` is package-private to
  * Spark. */
object GraftTestBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
