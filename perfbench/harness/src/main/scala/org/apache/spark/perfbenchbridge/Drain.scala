package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener-bus access the benchmark needs from `private[spark]` API,
  * hence this shim under `org.apache.spark`. */
object Drain {
  /** The running SparkContext, if any. */
  def active: Option[SparkContext] = SparkContext.getActive

  /** Bounded drain: the no-arg `waitUntilEmpty()` throws after 10 s on a
    * backlogged bus and would abort a traced run; this waits at most
    * `timeoutMs`, logs, and lets the run continue with whatever the
    * listeners have seen so far. */
  def apply(sc: SparkContext, timeoutMs: Long, what: String): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[perfbench] listener bus not drained after $timeoutMs ms ($what); counts may lag")
    }
}
