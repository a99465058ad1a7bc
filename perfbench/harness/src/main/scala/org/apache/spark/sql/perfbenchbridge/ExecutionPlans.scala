package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Query-execution access the benchmark needs from `private[sql]` API,
  * hence this shim under `org.apache.spark.sql`. */
object ExecutionPlans {
  /** The analysed plan of an ended SQL execution, when Spark attached
    * the execution's query to the event. */
  def analyzed(e: SparkListenerSQLExecutionEnd): Option[LogicalPlan] = Option(e.qe).map(_.analyzed)
}
