package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 wraps Columns around `ColumnNode`s and gates the
  * Expression-level conversions behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This object lives in
  * a subpackage of `org.apache.spark.sql` solely to re-export those two
  * conversions, and a few other `private[sql]`/`private[spark]` members,
  * to graft code; it contains no logic of its own.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DSv2 literal from an internal value + type (`LiteralValue` itself is
    * `private[sql]`).
    */
  def v2Literal(value: Any, dataType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Literal[_] =
    org.apache.spark.sql.connector.expressions.LiteralValue(value, dataType)

  /** Block until every event posted so far reached every listener
    * (`LiveListenerBus.waitUntilEmpty`; throws on its 10 s timeout).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The name an execution's QueryExecutionListener callback reports,
    * when it has one. */
  def executionName(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd): Option[String] =
    e.executionName

  /** `spark.driver.maxResultSize` as the scheduler reads it; 0 = no cap. */
  def maxResultSize(sc: org.apache.spark.SparkContext): Long =
    sc.conf.get(org.apache.spark.internal.config.MAX_RESULT_SIZE)

  /** Spark's rendering of a byte count, as its error messages print it. */
  def bytesToString(n: Long): String = org.apache.spark.util.Utils.bytesToString(n)
}
