package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * traced run reads complete task metrics. The bus is package-private to
  * Spark; this one accessor is the only reason for the package.
  */
object BenchBus {
  /** true when the bus drained within `timeoutMs` */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
