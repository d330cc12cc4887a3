package org.apache.spark

/** Core-side shim (same pattern as sql/graftshim/ColumnShim) over two
  * `private[spark]` members of SparkContext:
  *
  *  - the async listener bus's waitUntilEmpty: `Harness` and `Bench` read
  *    listener-accumulated task metrics and need a real drain — a fixed
  *    sleep lets late task-end events leak into the next measurement
  *    window under load;
  *  - the checkpoint dir, which has a set-only public API: MaterializeSpec
  *    unsets it to restore the shared test session.
  */
object GraftSparkShim {
  /** Block until the listener bus has delivered all queued events (or
    * the timeout passes — a best-effort drain is still strictly better
    * than a blind sleep). */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Unset the checkpoint dir (`checkpointDir` is private[spark] with a
    * set-only public API) — lets a test restore the shared session's
    * no-checkpoint-dir state after exercising reliable checkpointing. */
  def clearCheckpointDir(sc: SparkContext): Unit =
    sc.checkpointDir = None
}
