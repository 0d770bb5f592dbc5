package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Core-side analogue of [[org.apache.spark.sql.graftbridge.Bridge]]:
  * `SparkContext.listenerBus` and `RDD.outputDeterministicLevel` are
  * `private[spark]`, so they are exposed from a child package of
  * `org.apache.spark` (the standard extension technique; nothing here
  * touches scheduler internals beyond the public `waitUntilEmpty`).
  */
object CoreBridge {

  /** Block until every queued listener event has been delivered (or
    * the timeout passes — swallowed: a measurement harness prefers a
    * slightly stale aggregate over an abort). The Spark listener bus
    * is asynchronous; task-metric aggregates read immediately after an
    * action returns can miss late `SparkListenerTaskEnd` events.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Whether a re-read of `rdd`'s partitions gives the same rows
    * (`RDD.outputDeterministicLevel` is `private[spark]`). */
  def outputDeterministicLevel(rdd: org.apache.spark.rdd.RDD[_]): org.apache.spark.rdd.DeterministicLevel.Value =
    rdd.outputDeterministicLevel
}
