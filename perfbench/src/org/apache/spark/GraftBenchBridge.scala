package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * a traced run reads its listener's state only after every event
  * posted so far has been delivered. */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
