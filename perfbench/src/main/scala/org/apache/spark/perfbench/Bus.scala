package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private in Spark; the tracer needs it
  * to read complete job accounting after each op, outside the timed region. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
