package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side access to the `private[spark]` listener bus. */
object ListenerBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
