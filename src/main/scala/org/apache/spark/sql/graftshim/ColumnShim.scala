package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge. Spark 4 made ExpressionUtils
  * `private[sql]`, so extension libraries reach it from a subpackage of
  * org.apache.spark.sql — the usual pattern for Spark-native add-ons.
  * The repo's other shims (GraftSparkShim, parquet's FooterSchema) follow
  * it; nothing else lives outside the graft package.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on a LIVE session (SparkSessionExtensions only
    * applies at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
