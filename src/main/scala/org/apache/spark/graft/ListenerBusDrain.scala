package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Accessor for the private[spark] listener bus: measurement tooling
  * (graft.tools.PlanDump) must DRAIN the async bus before reading its
  * stage-attribution log — a fixed sleep races late-completing stages
  * out of the attribution (r16 ADVICE finding).
  */
object ListenerBusDrain {
  /** Waits for the bus to drain (Spark's 10 s bound); false when it
    * timed out, so a caller can mark its log as possibly incomplete
    * instead of aborting the run.
    */
  def waitUntilEmpty(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
