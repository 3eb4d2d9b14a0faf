package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Forwarders to the classic (non-Connect) API's `private[sql]` parts.
  *
  * Spark 4 made `Column` a thin wrapper over a `ColumnNode`, and the
  * conversion helpers (`ExpressionUtils`) are `private[sql]` — the
  * sanctioned pattern for libraries that define native Catalyst
  * expressions (as this one does: Md5iExpr, SimHashExpr, MinHashSigExpr)
  * is a bridge object inside the `org.apache.spark.sql` package. Only
  * one-line forwarders live here; everything else stays in `graft.*`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Collision-free session identity (`sessionUUID` is `private[sql]`);
    * used to key per-session cache slots (DedupOps.persistSlot).
    */
  def sessionUuid(s: org.apache.spark.sql.SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    case other => System.identityHashCode(other).toHexString
  }

  /** Run `rows` now as one DSv2 append into `table` (TableIO's one data
    * write): an `AppendData` over the table's relation, the plan
    * `DataFrameWriterV2.append` builds for a catalog table, which needs
    * no catalog or provider class to name the table by.
    */
  def append(table: org.apache.spark.sql.connector.catalog.Table, rows: DataFrame): Unit = {
    val ds = rows.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sessionState.executePlan(AppendData.byName(
      DataSourceV2Relation.create(table, None, None), ds.logicalPlan)).assertCommandExecuted()
  }
}
