package org.apache.spark

/** Wait until the context's listener bus has delivered every posted event
  * (`private[spark]`), so a test listener's counts are final.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
