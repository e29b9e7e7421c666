package org.apache.spark

/** Bridge into `private[spark]` SparkContext internals — the
  * GraftBridge pattern one package up. One use: draining the async
  * listener bus before reading what a listener recorded — perfbench's
  * `Tracer.drain` (job/task metrics and executed plans) and
  * [[graft.Profile]]'s job list. Operator code never waits on the bus:
  * caches are released by [[graft.engine.CacheScope]], synchronously. */
object GraftSparkBridge {

  /** Block (bounded) until every queued listener event has been
    * delivered. Returns false instead of throwing on timeout or on a
    * stopped context — callers then read what has arrived so far. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case scala.util.control.NonFatal(_) => false }
}
