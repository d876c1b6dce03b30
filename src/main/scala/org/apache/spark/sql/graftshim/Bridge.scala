package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made Column a thin node wrapper and
  * gated the converters as `private[sql]`; extension libraries conventionally
  * reach them via a shim in the `org.apache.spark.sql` namespace. This is the
  * only file outside the `graft` package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`private[spark]`) — needed when reading
    * task metrics gathered by a SparkListener right after an action returns.
    */
  def waitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Post an event to the listener bus (`private[spark]`): listeners and
    * the event log receive it as they do Spark's own events.
    */
  def post(sc: org.apache.spark.SparkContext,
      event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
