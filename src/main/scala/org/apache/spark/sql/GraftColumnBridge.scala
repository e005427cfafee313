package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column<->Expression conversion
  * (Column wraps a ColumnNode since 4.0; the classic converter lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`). Extension libraries
  * that ship custom Catalyst expressions conventionally host a small
  * accessor in this package — cf. the public Qbeast/Chukonu-style
  * `DatasetFactory` pattern. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` with its floats normalized the way Spark normalizes join keys
    * (`NormalizeNaNAndZero`: -0.0 = 0.0, one NaN; private[sql]). */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** DataFrame from a logical plan (`Dataset.ofRows` is private[sql]) —
    * lets the materialized-view refresher run a stored view body with a
    * relation surgically swapped for an incremental delta plan. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the SparkListener bus (private[spark]) — lets specs assert
    * "zero jobs ran during construction" without sleeping. */
  def waitListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** The row-level operation inside a rewrite plan's relation, if the
    * relation's table is the analyzer's (private[sql])
    * `RowLevelOperationTable` wrapper — lets extension rules recognize
    * their own operations without naming the wrapper type. */
  def rowLevelOperation(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.write.RowLevelOperation] = t match {
    case r: org.apache.spark.sql.connector.write.RowLevelOperationTable => Some(r.operation)
    case _ => None
  }
}
