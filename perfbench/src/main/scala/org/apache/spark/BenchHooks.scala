package org.apache.spark

/** The one package-private Spark call the tracer needs: block until every
  * listener queue has delivered the events posted so far, so a span's
  * counters hold exactly the work done inside it.
  */
object BenchHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
