package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run must see every task-end event before it folds the
  * counters into spans. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
