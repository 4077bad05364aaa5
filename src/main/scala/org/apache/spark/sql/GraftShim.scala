package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[sql]` Dataset constructors so the
  * graft library can return DataFrames built from custom logical
  * plans (the AsOfJoin node) or from an already-planned row RDD (the
  * snapshot export's pinned partitions), and can reject a wrong
  * argument count with Spark's own error. This is the standard
  * extension-library technique; nothing else from the sql internals is
  * touched.
  */
object GraftShim {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame that scans `rows` as-is: partition `i` of the result is
    * partition `i` of `rows`, so jobs over it see the same rows per
    * partition as jobs over `rows` itself.
    */
  def ofInternalRows(session: SparkSession, rows: RDD[InternalRow],
                     schema: StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Spark's WRONG_NUM_ARGS AnalysisException, as built-in functions raise it. */
  def wrongNumArgs(function: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(function, Seq(expected), actual)
}
