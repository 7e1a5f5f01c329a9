package org.apache.spark

/** Bridge into the (private[spark]) listener bus. Listener callbacks
  * ride the async bus, so a reader of listener-collected state — the
  * measurement tools, plan pins that capture per-round executed plans —
  * drains it first, and only then removes its listener. Same
  * package-bridge precedent as `org.apache.spark.sql.classic.GraftColumnBridge`. */
object GraftBus {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)
}
