package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversion — the standard
  * pattern for libraries that ship custom Catalyst expressions without
  * requiring SparkSessionExtensions registration (works with ANY session,
  * including ones the graft library did not build). */
package object graftshim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register graft's SQL functions on an ALREADY-RUNNING session (the
    * extensions path, plans.GraftExtensions, only applies at session
    * build; this covers sessions the library did not create). Builders
    * come from the single source of truth in plans.GraftFunctions. */
  def registerFunctions(spark: SparkSession): Unit =
    graft.plans.GraftFunctions.builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  /** Isolated twin of `s` for session-scoped conf flips (round-11
    * advice on streaming.Streams.withStatePartitions): shares the
    * SparkContext and SharedState and SNAPSHOTS the current session
    * state (runtime conf, temp views, registered functions) but owns
    * its own copies — a shuffle-partition flip on the clone can never
    * leak into a query concurrently planning on the parent, and
    * memory-sink temp views registered on the clone die with it
    * instead of accumulating in the parent catalog. `cloneSession` is
    * `private[sql]`, hence this bridge. `newSession` fallback for
    * non-classic sessions starts from initial options instead of the
    * live conf — acceptable: graft never builds such sessions. */
  def isolatedSession(s: SparkSession): SparkSession = s match {
    case c: classic.SparkSession => c.cloneSession()
    case other => other.newSession()
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** The QueryExecution a SQL-execution-end event carries (a
    * `private[sql]` field). It is set for executions of every session,
    * the isolated stream sessions included. */
  def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd)
      : Option[execution.QueryExecution] = Option(e.qe)
}
