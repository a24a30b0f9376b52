package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Catalyst bridge for Spark 4's Column/ColumnNode split: the
  * `private[sql]` conversion between public `Column` and catalyst
  * `Expression`, exposed to graft's custom expressions. Standard
  * Spark-extension pattern (same access level SparkSessionExtensions
  * implementations rely on). Also the one door to the `private[spark]`
  * listener bus.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Block until every listener event posted so far has been delivered,
    * so listener counters read afterwards cover every finished job. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
