package org.apache.spark

/** Benchmark-side bridge into the private[spark] listener bus. The
  * tracer drains the bus before it reads its counters or detaches, so
  * no event queued by the last op is lost. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000)
}
