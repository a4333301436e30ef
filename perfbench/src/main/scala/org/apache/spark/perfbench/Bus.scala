package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so listener counters read
  * after an action include all of its events. `waitUntilEmpty` is
  * `private[spark]`, hence this shim in a spark subpackage. */
object Bus {
  def flush(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
