package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Re-exports `SparkContext.listenerBus.waitUntilEmpty` (`private[spark]`):
  * the traced run closes an operation's listener window only after every
  * event the operation caused has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
