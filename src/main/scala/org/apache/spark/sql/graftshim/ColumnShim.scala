package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge: every native expression in
  * `graft.functions` builds its Column-API entry point through it (the
  * queries call those entry points; no expression is registered as a SQL
  * function). Spark 4 made ExpressionUtils `private[sql]`, so it is
  * reached from a subpackage of org.apache.spark.sql. The repo's other
  * shims (GraftSparkShim, parquet's FooterSchema) follow the same
  * pattern; nothing else lives outside the graft package.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
