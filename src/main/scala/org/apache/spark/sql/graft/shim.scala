package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala); a library adding native Catalyst
  * expressions still needs them, hence this package-located shim —
  * the same technique third-party Spark extensions use.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → CONVERTED Catalyst tree. `expression(c)` returns a lazy
    * `ColumnNodeExpression` wrapper (fine for plans, opaque to
    * pattern-matching); this runs the session converter so stats
    * evaluation sees the real And/LessThan/Literal shapes.
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame over a logical plan (`Dataset.ofRows` is
    * `private[sql]`) — the SQL MERGE bridge turns the parsed source
    * relation back into the DataFrame the merge verb consumes, and
    * GraftTable's reader wraps its log-seeded file relation.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** All-fields-nullable view of a schema (`StructType.asNullable` is
    * `private[sql]`): recorded table schemas must not impose a
    * written DataFrame's non-null flags on later parquet reads.
    */
  def nullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Drain the async listener bus so `statusTracker` reflects every
    * event already posted — needed by specs that assert on job COUNTS
    * (e.g. "plan construction launched zero jobs"); without the drain
    * a zero-assertion can pass vacuously on delivery lag.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Post an operator's own event (`listenerBus` is `private[spark]`):
    * how [[graft.Gate]] records its decisions.
    */
  def postEvent(spark: SparkSession,
                e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(e)
}
