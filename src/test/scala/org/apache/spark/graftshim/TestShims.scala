package org.apache.spark

/** Test-only bridge to `private[spark]` scheduler internals (the
  * graftshim pattern, test classpath only). */
package object graftshim {

  /** Block until the async listener bus has delivered every queued
    * event — the deterministic replacement for sleep-before-assert in
    * listener-counting specs (a fixed sleep is flaky on a loaded host:
    * late-arriving job-start events land after the assertion). The
    * caller's jobs have already COMPLETED (its action returned), so
    * draining the bus is sufficient, not racy. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The value of every broadcast variable the driver's block manager
    * still holds, by broadcast id. `Broadcast.unpersist` keeps the
    * driver's copy (in `local` mode the only one); `destroy` or the
    * ContextCleaner drops it. */
  def driverBroadcastValues(sc: SparkContext): Map[Long, Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case id @ org.apache.spark.storage.BroadcastBlockId(bid, "") =>
        bm.getLocalValues(id).map(r => bid -> r.data.toList.headOption.orNull)
    }.flatten.toMap
  }
}
