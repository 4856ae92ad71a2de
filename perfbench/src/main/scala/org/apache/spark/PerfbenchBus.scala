package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * benchmark's listeners have seen all of a pass before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
