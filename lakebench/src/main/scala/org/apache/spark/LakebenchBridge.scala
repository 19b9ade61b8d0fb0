package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so the counters of
  * an operation are complete before they are read. */
object LakebenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
