package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Minimal bridge into the `private[sql]` Dataset constructors so the
  * graft library can return DataFrames built from custom logical
  * plans (the AsOfJoin node, a snapshot scan), convert a source filter
  * to its V2 predicate, and reject a wrong argument count
  * with Spark's own error. This is the standard
  * extension-library technique; nothing else from the sql internals is
  * touched.
  */
object GraftShim {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  def toV2(f: sources.Filter): connector.expressions.filter.Predicate = f.toV2

  /** Spark's WRONG_NUM_ARGS AnalysisException, as built-in functions raise it. */
  def wrongNumArgs(function: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(function, Seq(expected), actual)
}
