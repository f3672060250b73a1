package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this forwarder lives in
  * an org.apache.spark subpackage to reach its deterministic drain. A
  * timeout is reported as `false`, never thrown.
  */
object Drain {
  def apply(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
