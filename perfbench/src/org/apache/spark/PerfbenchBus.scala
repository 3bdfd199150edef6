package org.apache.spark

/** The one private Spark hook the benchmark needs: block until the
  * listener bus has delivered every posted event, so the tracer's
  * counters for a span are complete when the span closes. Lives in
  * the `org.apache.spark` package because the bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
