package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark 4 made `Column` expression-agnostic; the Expression↔Column
  * converters live in `private[sql]` ExpressionUtils. This bridge (in an
  * org.apache.spark.sql subpackage, the customary pattern for Spark
  * extension libraries) re-exports just those two converters so graft's
  * custom Catalyst expressions can surface as Columns, plus one eager
  * converter for code that runs after analysis has started. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Catalyst tree of `c`, converted now. [[expression]] defers the
    * conversion to the analysis of the plan the Column lands in, which a
    * function builder's result never gets (its lazy wrapper reaches
    * codegen unconverted), so a builder returns `resolve` of its Column. */
  def resolve(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
