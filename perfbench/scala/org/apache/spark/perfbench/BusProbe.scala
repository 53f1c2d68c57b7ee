package org.apache.spark.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** The listener-bus hooks the traced run needs and Spark keeps
  * package-private: a dedicated event queue for the benchmark's
  * collector, a drain barrier, and the dropped-event counters. */
object BusProbe {
  val Queue = "perfbench"

  /** Register on a queue of its own, so a slow collector can neither
    * delay nor be dropped by Spark's shared queue. */
  def addListener(sc: SparkContext, l: SparkListenerInterface): Unit =
    sc.listenerBus.addToQueue(l, Queue)

  def removeListener(sc: SparkContext, l: SparkListenerInterface): Unit =
    sc.removeSparkListener(l)

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Events dropped so far by any listener queue (a full queue drops
    * rather than blocks, so a non-zero count makes a trace incomplete). */
  def droppedEvents(sc: SparkContext): Long =
    sc.listenerBus.metrics.metricRegistry.getCounters.asScala
      .collect { case (n, c) if n.endsWith("numDroppedEvents") => c.getCount }
      .sum
}
