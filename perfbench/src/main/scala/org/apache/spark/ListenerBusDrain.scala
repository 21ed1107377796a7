package org.apache.spark

/** Package shim: `SparkContext.listenerBus` is `private[spark]`. Waiting
  * for the bus to empty makes every listener event of the jobs that
  * already finished visible before a span is closed, without
  * sleep-polling. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
