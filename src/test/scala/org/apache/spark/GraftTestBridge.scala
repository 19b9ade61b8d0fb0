package org.apache.spark

/** Test access to the package-private listener bus: block until every
  * event posted so far has been delivered, so a listener's counts are
  * complete before a spec reads them. */
object GraftTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
