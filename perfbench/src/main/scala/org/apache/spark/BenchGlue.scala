package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * posted listener event has been delivered, so per-call counters are
  * read only after all of the call's task and job events arrived. */
object BenchGlue {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
