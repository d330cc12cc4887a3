package org.apache.spark

/** Core-side shim (same pattern as sql/graftshim/ColumnShim) over the
  * `private[spark]` async listener bus of SparkContext: `Harness` and
  * `Bench` read listener-accumulated task metrics and need a real drain —
  * a fixed sleep lets late task-end events leak into the next measurement
  * window under load.
  */
object GraftSparkShim {
  /** Block until the listener bus has delivered all queued events (or
    * the timeout passes — a best-effort drain is still strictly better
    * than a blind sleep). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
