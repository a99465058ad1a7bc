package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]`, so this one-file shim lives under the
  * `org.apache.spark.sql` namespace (the standard pattern for libraries
  * that ship custom Catalyst expressions against Spark 4's split
  * Column API). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Test-only visibility shims: `SparkSessionExtensions`' build methods
    * are `private[sql]`, so the spec that proves `GraftExtensions`
    * actually injects its functions and optimizer rule goes through
    * here. */
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session)

  /** Plan a (resolved) logical plan to a physical plan — test-only, for
    * the plan-shape guards: at the `sparkPlan` stage a subquery
    * expression still wraps its LOGICAL plan (physical subquery planning
    * happens in prepare, and under AQE the prepared subquery hides
    * behind a leaf AdaptiveSparkPlanExec), so auditing the physical
    * shape INSIDE a scalar/EXISTS subquery requires planning it
    * explicitly. `sessionState`/`executePlan` are `private[sql]`. */
  def planLogical(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.execution.SparkPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.executePlan(plan).sparkPlan

  /** Wait until the listener bus has delivered every queued event —
    * profiling tools attribute job/stage/task counts to the query that
    * just ran, and the bus is asynchronous (`listenerBus` is
    * `private[spark]`, reachable from this package). Bounded: on a
    * backlogged bus it logs after 60 s and returns, so the caller reads
    * a slightly stale count instead of aborting (the no-arg
    * `waitUntilEmpty()` throws after 10 s). */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(BusDrainTimeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[graftbridge] listener bus not drained after $BusDrainTimeoutMs ms; counts may lag")
    }

  private val BusDrainTimeoutMs = 60000L

  def injectedFunctionNames(
      ext: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    // registerFunctions folds the injected entries into a registry; use a
    // throwaway clone of the session's registry to observe what lands
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    val before = reg.listFunction().map(_.unquotedString).toSet
    ext.registerFunctions(reg)
    reg.listFunction().map(_.unquotedString).filterNot(before).sorted
  }
}
