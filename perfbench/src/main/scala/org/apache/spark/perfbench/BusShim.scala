package org.apache.spark.perfbench

import java.util.concurrent.TimeoutException

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark reaches its
  * bounded drain and the dropped-event counters from inside the spark
  * package namespace. */
object BusShim {
  /** Wait at most `timeoutMillis` for every queued listener event to be
    * dispatched. False on timeout: the caller counts it as a failed
    * operation instead of reading a partial count. */
  def drain(sc: SparkContext, timeoutMillis: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: TimeoutException => false }

  /** Events every listener-bus queue has dropped since the context started. */
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala.collect {
      case (name, c) if name.endsWith("numDroppedEvents") => c.getCount
    }.sum
}
