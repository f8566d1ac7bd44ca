package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The traced run reads listener events right after each sample. The
  * listener bus is asynchronous, and the only way to wait for it to
  * drain is package-private to Spark, hence this shim's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
