package org.apache.spark

import scala.util.control.NonFatal

/** Bridge to the listener bus's drain primitive (private[spark]): per-query
  * job/taskSec attribution ([[graft.JobCounter]]) reads listener counters
  * between queries, and the bus is async — a bounded wait-until-empty is
  * the deterministic seam, where a fixed sleep can under-wait under load.
  * Timing is NEVER inside the drained window: callers snapshot the query
  * wall clock first, then drain, then read counters.
  */
object GraftListenerBridge {
  /** Wait until the listener bus has dispatched every queued event, up
    * to `timeoutMs`; false if the timeout elapsed first or the wait was
    * interrupted (counters may then lag — callers treat attribution as
    * best-effort diagnostics). An interrupt stays set on the caller's
    * thread; fatal errors propagate.
    */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch {
      case _: InterruptedException =>
        Thread.currentThread().interrupt() // the caller still sees it
        false
      case NonFatal(_) => false
    }
}
