package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst Expression conversion for graft's native expressions,
  * plus the listener-bus drain graft's tool harness counts with.
  *
  * Spark 4 hides `classic.ExpressionUtils` behind `private[sql]` and the
  * listener bus behind `private[spark]`; this object lives in package
  * `org.apache.spark.sql` solely to re-expose those calls to graft code. It
  * touches no Spark internals beyond the three calls below — the standard
  * extension-library pattern for pre-`Column.apply` Spark 4 codebases.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener has processed every event posted so far
    * (Spark's own bound: 10 s, then a `TimeoutException`).
    */
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
