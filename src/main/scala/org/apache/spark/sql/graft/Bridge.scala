package org.apache.spark.sql.graft

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for the library's native Catalyst
  * expressions. Spark 4 made `Column` plan-agnostic (ColumnNode), so
  * wrapping a catalyst `Expression` goes through the `classic`
  * converter, which is `private[sql]` — hence this one-object shim in
  * the `org.apache.spark.sql` namespace (the standard pattern for
  * libraries shipping custom expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the (async) listener bus — lets tests that count scheduler
    * events read a final value (`private[spark]` on SparkContext).
    */
  def waitListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The calling thread's Spark local properties (job group,
    * description, job tags) and their setter, `private[spark]` on
    * SparkContext: an overlapped arm runs under its caller's.
    */
  def localProperties(sc: SparkContext): Properties = sc.getLocalProperties
  def setLocalProperties(sc: SparkContext, p: Properties): Unit = sc.setLocalProperties(p)

  /** `df`'s analyzed plan as a frame of session `s`
    * (`Dataset.ofRows` is `private[sql]`): `s` plans and runs it under
    * its own confs, and cached stages in the plan still resolve through
    * the shared cache manager.
    */
  def rebind(df: DataFrame, s: org.apache.spark.sql.SparkSession): DataFrame = (df, s) match {
    case (d: org.apache.spark.sql.classic.Dataset[_], c: org.apache.spark.sql.classic.SparkSession) =>
      org.apache.spark.sql.classic.Dataset.ofRows(c, d.logicalPlan)
  }

  /** Stable per-session UUID (`private[sql]` on the classic session) —
    * used as a cache key that can't alias after a session is GC'd.
    */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    case other => System.identityHashCode(other).toString
  }
}
