package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The one `private[spark]` call the benchmark needs: block until the async
  * listener bus has delivered every queued event, so counters read at a
  * query boundary include all of that query's jobs and plan phases. */
object SparkShim {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
