package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.classic.ExpressionUtils

/** The Column of a native graft expression `f` over the SQL text `arg` (a
  * column name or expression). The Column carries the expression itself,
  * so no function lookup happens and the session needs no `register`
  * call; `register` and `graft.GraftExtensions` remain for SQL text
  * that names the functions. This object sits under `org.apache.spark.sql`
  * because Spark 4 keeps its Expression → Column bridge `private[sql]`. */
object NativeColumn {
  def apply(arg: String)(f: Expression => Expression): Column =
    ExpressionUtils.column(f(CatalystSqlParser.parseExpression(arg)))
}
