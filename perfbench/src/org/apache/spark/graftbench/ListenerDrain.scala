package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span may only be
  * closed once every event its jobs posted has been delivered. The
  * drain call is `private[spark]`, hence this shim in a Spark
  * subpackage (the same idiom as `org.apache.spark.sql.graft`). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
