package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one-line bridge extension libraries need: turn a hand-built
  * `LogicalPlan` back into a `DataFrame`. `Dataset.ofRows` is
  * `private[sql]`, so this object lives under `org.apache.spark.sql` —
  * the same technique Spark-ecosystem extensions use to expose custom
  * operators without forking Spark.
  */
object PlanBuilder {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column ⇄ Expression bridge (`ExpressionUtils` is `private[sql]`):
    * lets library code wrap a hand-built Catalyst `Expression` as a
    * `Column` (and unwrap the reverse) without a registered SQL function.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The session's process-unique UUID (`private[sql]` on the classic
    * session) — the stable cache key a library should use instead of
    * `System.identityHashCode`, which can collide after GC.
    */
  def sessionUUID(s: SparkSession): String =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}

/** `private[spark]` members re-exposed from inside the `org.apache.spark`
  * namespace: what custom physical operators need at task runtime, and the
  * listener-bus drain a metrics reader needs on the driver.
  */
object SparkInternals {
  /** The memory-manager page size an external sorter should allocate with
    * (what `SortExec` passes to `UnsafeExternalRowSorter.create`). Callable
    * on the executor inside a task.
    */
  def pageSizeBytes: Long = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Block until every queued listener event has been delivered. Spark
    * posts task and job events asynchronously, so a listener read right
    * after an action can miss that action's last events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
