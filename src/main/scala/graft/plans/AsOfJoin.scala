package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native backward as-of join: for each left row, attach the latest
  * right row with the same key and right.ts <= left.ts (or nulls).
  *
  * The whole-operator custom-plan showcase (SURVEY §7.5, preference
  * (c)): logical node → planner strategy → physical exec. Execution
  * is a single co-partitioned sort-merge pass: EnsureRequirements
  * hash-partitions both children on the key and sorts each partition
  * by (key, ts); the merge then advances the right pointer at most
  * once per right row — O(n+m) per partition, zero buffering beyond
  * one candidate row. This is the plan a 100 TB as-of needs: one
  * shuffle each side, no join explosion, no per-left-row rescans
  * (contrast with the join+row_number technique, whose candidate set
  * is quadratic in per-key density before the filter).
  *
  * Key and ts expressions must be long-backed (int64 keys and
  * TimestampType/LongType timestamps — both stored as Long
  * internally), which covers the engine's data model (FIXTURES.md).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Expression, rightKey: Expression,
                    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  /** Rows never move after the children's exchanges and every output
    * row is a left row (right side only extends it), so the left
    * child's hash partitioning survives — the same claim
    * SortMergeJoinExec makes for LEFT OUTER. Without this override the
    * default UnknownPartitioning makes a downstream aggregation or
    * join on the as-of key pay a THIRD shuffle for data already
    * clustered on it — at 100 TB, a whole pass over the join output
    * (AsOfSpec pins the exchange count).
    */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
            SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending)),
        Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
            SortOrder(rightTs, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTsB = BindReferences.bindReference(leftTs, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTsB = BindReferences.bindReference(rightTs, right.output)
    val rightWidth = right.output.size
    val outputAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val proj = UnsafeProjection.create(outputAttrs, outputAttrs)
      var lastMatch: InternalRow = null
      var lastMatchKey: Long = 0L
      var hasMatch = false

      // Null handling: a null key/ts can never satisfy the as-of
      // predicate — unboxing it to 0L would silently match key 0 /
      // epoch 0. Null left rows emit the null-extended row; null right
      // rows are discarded (both sides sort NULLS FIRST under the
      // required Ascending ordering, so discarding preserves the merge).
      lIter.map { lrow =>
        val lkAny = lKeyB.eval(lrow)
        val ltAny = lTsB.eval(lrow)
        if (lkAny == null || ltAny == null) {
          proj(joined(lrow, nullRight))
        } else {
          val lk = lkAny.asInstanceOf[Long]
          val lt = ltAny.asInstanceOf[Long]
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val head = rBuf.head
            val rkAny = rKeyB.eval(head)
            if (rkAny == null) {
              rBuf.next() // nulls sort first and never match
            } else {
              val rk = rkAny.asInstanceOf[Long]
              if (rk < lk) {
                // left keys only grow: rows below the current key can
                // never match again — discard without copying
                rBuf.next()
              } else if (rk == lk) {
                val rtAny = rTsB.eval(head)
                if (rtAny == null) {
                  rBuf.next() // null ts sorts first within the key group
                } else if (rtAny.asInstanceOf[Long] <= lt) {
                  lastMatch = rBuf.next().copy() // retained across iterations
                  lastMatchKey = rk
                  hasMatch = true
                } else {
                  advancing = false
                }
              } else {
                advancing = false
              }
            }
          }
          val matched = hasMatch && lastMatchKey == lk
          proj(joined(lrow, if (matched) lastMatch else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** User-facing API for the native as-of join. The session must load
  * [[GraftExtensions]] (or have run its install), which plans the node
  * through [[AsOfStrategy]].
  */
object AsOf {
  def join(leftDf: DataFrame, rightDf: DataFrame,
           leftKey: String, rightKey: String,
           leftTs: String, rightTs: String): DataFrame = {
    val s = leftDf.sparkSession
    val lp = leftDf.queryExecution.analyzed
    val rp0 = rightDf.queryExecution.analyzed
    // SELF-JOIN dedup (what Spark's analyzer does for Join nodes and a
    // hand-built logical node must do itself): AsOf.join(df, df, …)
    // hands both sides the SAME attribute exprIds, and the duplicated
    // output breaks downstream binding with an internal
    // ATTRIBUTE_NOT_FOUND mid-execution. Re-alias the right side with
    // fresh exprIds whenever the two outputs overlap.
    val rp: LogicalPlan =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rp0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    // long-backed only (the exec unboxes eval() results to Long): an
    // int key would otherwise die executor-side as a bare
    // ClassCastException mid-merge — validate HERE, at plan build, with
    // the column named (the engine-wide fail-loudly-at-load discipline)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    def requireType(a: org.apache.spark.sql.catalyst.expressions.Attribute,
                    role: String, ok: Seq[org.apache.spark.sql.types.DataType]): Unit =
      if (!ok.contains(a.dataType)) throw new IllegalArgumentException(
        s"as-of $role column '${a.name}' is ${a.dataType.simpleString}; the native " +
          s"as-of join needs a long-backed type (${ok.map(_.simpleString).mkString("/")}) " +
          "— cast the column first")
    val (lk, rk, lts, rts) =
      (attr(lp, leftKey), attr(rp, rightKey), attr(lp, leftTs), attr(rp, rightTs))
    Seq(lk -> "key", rk -> "key").foreach { case (a, r) => requireType(a, r, Seq(LongType)) }
    Seq(lts -> "timestamp", rts -> "timestamp").foreach { case (a, r) =>
      requireType(a, r, Seq(TimestampType, TimestampNTZType, LongType)) }
    GraftShim.ofRows(s, AsOfJoin(lp, rp, lk, rk, lts, rts))
  }
}
