package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark internals the tracer needs. They are `private[spark]`,
  * so this accessor lives under the `org.apache.spark` package.
  */
object BusAccess {

  /** Block until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Name of a live accumulator (SQL metrics are accumulators). */
  def accumName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
