package org.apache.spark.perfbenchbridge

import org.apache.spark.sql.SparkSession

/** Access to the `private[spark]` listener bus: a traced run waits until every
  * queued event has reached its listeners before it reads them. */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
