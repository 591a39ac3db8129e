package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Waits until every queued listener event has been delivered, so the
  * traced run's job and execution records are complete before they are
  * read. The listener bus is package-private, hence this package. */
object BusDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
