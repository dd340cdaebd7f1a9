package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge to the sql-private Column <-> catalyst Expression
  * conversions (Spark 4 made Column node-based; classic.ExpressionUtils
  * is private[sql]). Standard pattern for out-of-tree Catalyst
  * extensions. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Analyze+wrap a logical plan as a DataFrame (classic.Dataset.ofRows
    * is private[sql]); used by the SQL INSERT command to evaluate its
    * source query at execution time. */
  def ofRows(session: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
  /** A DataFrame over catalyst rows of `schema` (internalCreateDataFrame
    * is private[sql]): no per-row conversion from external types. */
  def ofInternalRows(session: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
  /** Clone a session: same SparkContext, full copy of session state
    * including runtime conf (private[sql] in Spark 4). Used to scope a
    * table's reader-conf overrides to one scan without mutating the
    * caller's shared session conf. */
  def cloneSession(session: SparkSession): SparkSession =
    session.asInstanceOf[classic.SparkSession].cloneSession()
}
