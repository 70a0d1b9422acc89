package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Blocks until the listener buses have delivered every posted event, so
  * a traced reading is complete before it is attributed. The buses are
  * package-private to Spark; this object is the one place that reaches
  * them. */
object BusDrain {
  def apply(spark: SparkSession): Unit = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
  }
}
