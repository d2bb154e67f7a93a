package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener counts and the status store behind `getRDDStorageInfo` are
  * complete. The bus is `private[spark]`, hence this package.
  */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
