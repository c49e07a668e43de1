package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `private[spark]` bridge (the [[org.apache.spark.sql.graft.ColumnBridge]]
  * pattern) exposing the listener bus's `waitUntilEmpty` to code that
  * reads metrics off a `SparkListener`: the benchmark's tracer
  * (`e2ebench`) and the specs that count jobs or decoded rows. Listener
  * events drain asynchronously — a deterministic flush beats a fixed
  * `Thread.sleep`, which could under-drain on a loaded box and leak one
  * measured step's events into the next one's numbers.
  */
object ListenerBridge {
  /** Block until every queued listener event is dispatched (or the
    * timeout passes — swallowed: a measurement should record
    * slightly-fuzzy metrics, not crash the run).
    */
  def flush(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
