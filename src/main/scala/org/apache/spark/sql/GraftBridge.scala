package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the private[sql] Dataset constructor so graft's custom
  * logical operators (graft.plans.TopKPerKeyPlan) can be wrapped back
  * into a public DataFrame, and into the private[spark] listener bus.
  * Standard extension-library technique; the only member of this
  * package in graft. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far has reached its listeners
    * (a QueryExecutionListener is called on the bus thread, after the
    * query returned). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
