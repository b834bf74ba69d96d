package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to the `private[sql]` Column↔Expression converters, the
  * InternalRow-RDD↔DataFrame boundary and the `private[spark]` listener
  * bus. Lives in an org.apache.spark.sql subpackage solely to satisfy the
  * access modifiers; no Spark internals are modified. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The physical InternalRow RDD of a DataFrame. Two jobs launched over the
    * SAME returned RDD share its ShuffleDependency — the map stage (scan →
    * transform → shuffle write) runs once and the second job's scheduler
    * skips it (shuffle files are served from the map-output tracker). This is
    * the cross-JOB analog of ReuseExchange, which only deduplicates within
    * one query. */
  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A session sharing `spark`'s SparkContext, shared state (external
    * catalog, warehouse) and a COPY of its session state — conf changes on
    * the clone never leak back. The supported way to give one query a
    * session-level conf without mutating the caller's session for life. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Blocks until every listener event posted so far has reached every
    * listener. The bus is asynchronous: a listener read right after a job
    * can otherwise miss that job's last stage events. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
