package org.apache.spark.graftshim

import java.util.concurrent.TimeoutException

import org.apache.spark.SparkContext

/** Access shim for `private[spark]` listener-bus internals, used by
  * `graft.Bench` and `graft.tools.Probe` to attribute task metrics and
  * failures to the query that caused them: listener events are delivered
  * asynchronously, so a counter read right after a query returns can
  * miss events still queued on the bus — and would then mis-attribute
  * them to the NEXT query. Draining the bus between timings makes the per-query counter
  * windows exact. `SparkContext.listenerBus` and
  * `LiveListenerBus.waitUntilEmpty` are `private[spark]`, hence this
  * one-method object under an `org.apache.spark` subpackage (dev/bench
  * tooling only — engine code never touches Spark internals).
  */
object ListenerDrain {
  /** Block until every queued listener event is delivered (bounded; a
    * wedged bus must fail the bench loudly rather than hang it).
    */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(30000L)
    catch {
      case _: TimeoutException =>
        throw new IllegalStateException(
          "listener bus failed to drain within 30s — task-failure " +
            "attribution would be unreliable")
    }
}
