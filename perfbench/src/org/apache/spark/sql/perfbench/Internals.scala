package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The few engine internals the harness measures through. */
object Internals {
  /** Listener-bus barrier: listener events are delivered asynchronously,
    * so a measurement that reads listener-derived counts first waits
    * until every event posted so far has been handled. */
  def drainBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Row count of a (sub)plan taken from a query's optimized plan. */
  def count(spark: SparkSession, plan: LogicalPlan): Long =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan).count()
}
