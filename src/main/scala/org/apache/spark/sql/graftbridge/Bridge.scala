package org.apache.spark.sql.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkContext}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Column↔Expression converters and
  * logical-plan→DataFrame entry, and to the `private[spark]` map-output
  * tracker, map-stage submission and listener bus. Lives in an
  * org.apache.spark.sql subpackage solely to satisfy the access modifiers;
  * no Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan — the entry for plans holding the
    * limiter's own operators (`graft.limit.CellTap`/`ApplyVerdicts`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Total map-output bytes of `dep`'s shuffle. Runs the map stage first
    * unless every map output is already registered: resubmitting a stage
    * that materialized (as AQE's query stages do) only makes the scheduler
    * log "No stages registered". */
  def mapOutputBytes(sc: SparkContext, dep: ShuffleDependency[_, _, _]): Long =
    if (dep.rdd.getNumPartitions == 0) 0L
    else {
      val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      if (tracker.getNumAvailableOutputs(dep.shuffleId) < dep.rdd.getNumPartitions)
        sc.submitMapStage(dep).get()
      tracker.getStatistics(dep).bytesByPartitionId.sum
    }

  /** A session sharing `spark`'s SparkContext, shared state (external
    * catalog, warehouse) and a COPY of its session state — conf changes on
    * the clone never leak back. The supported way to give one query a
    * session-level conf without mutating the caller's session for life. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Blocks until every listener event posted so far has reached every
    * listener. The bus is asynchronous: a listener read right after a job
    * can otherwise miss that job's last stage events. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
