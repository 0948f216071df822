package org.apache.spark

/** The one package-private Spark hook the tracer needs: wait until every
  * posted listener event has been delivered, so a pass's metrics are
  * complete before they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
