package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` active context and listener bus,
  * for `graft.obs.Obs`. */
object ListenerBusBridge {
  def activeContext: Option[SparkContext] = SparkContext.getActive

  /** Wait until the bus has delivered every queued event, at most 10 s:
    * past that a meter reads partial totals rather than stall or fail the
    * work it measured. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
