package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so the events of one
  * operation are attributed before the next operation starts. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)
}
