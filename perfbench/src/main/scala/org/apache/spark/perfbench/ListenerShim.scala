package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; waiting for it to
  * drain is private[spark]. The traced run calls this once, after the
  * timed region, so every job and task of the region is counted.
  */
object ListenerShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
