package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column ⇄ Expression
  * conversions (Spark 4 wraps Column around ColumnNode; the classic
  * converters live behind the sql package seal). This is the standard
  * extension-library pattern for exposing custom Catalyst expressions as
  * user-facing Columns.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bloom-filter build/probe (Spark's internal runtime-filter
    * expressions, not SQL-registered) exposed as Columns. */
  def bloomFilterAgg(hashed: Column, numItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expression(hashed),
      org.apache.spark.sql.catalyst.expressions.Literal(numItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  def mightContain(bloom: Column, hashed: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(hashed)))

  /** Test/diagnostic hook: block until every queued listener event
    * (including QueryExecutionListener callbacks, which are delivered
    * asynchronously on the listener bus) has been processed — the
    * deterministic replacement for sleep-and-poll in specs that assert on
    * per-query execution signals. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register graft's custom expressions in a session's function registry
    * so `spark.sql("SELECT poly_hash(text, 0) ...")` works — the SQL-API
    * face of the extension surface (SURVEY §2.k). */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    _root_.graft.GraftExtensions.functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
