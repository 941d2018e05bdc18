package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the package-private Dataset constructor so graft can build
  * DataFrames from its own logical plan nodes (pattern per SNIPPETS.md [1]
  * and [3]: `sessionState.executePlan` / `Dataset.ofRows` are private[sql],
  * so the factory lives in org.apache.spark.sql). */
object GraftDatasetFactory {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** Drain the async listener bus (private[spark]): a listener read before
    * the bus is empty can miss the last job-start and stage-completed
    * events (PlanCap's job counts and stage table, the tests' `Jobs.count`;
    * ADVICE r17). */
  def waitListenerBusEmpty(s: SparkSession, timeoutMs: Long): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
