package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Codegen'd lower-bound count over a SORTED array<double>:
  * `lb_count(bs, v)` = #{i : bs[i] < v}, by binary search.
  *
  * Replaces the interpreted higher-order-function form
  * `size(filter(bs, e -> v > e))`, which evaluates the lambda through
  * interpreted `Invoke` objects outside whole-stage codegen AND
  * materializes a filtered copy of the array per row — O(n) work and
  * one allocation per input row, against this expression's O(log n)
  * compare loop with zero allocation inside codegen. It exists for
  * the quantile-bucket routing of the rank-count decomposition
  * (q_join_interval_overlap), whose bounds arrays come from
  * percentile_approx and are non-decreasing by construction.
  *
  * Semantics vs the HOF form on that domain (sorted bounds,
  * containsNull=false — enforced by the type check). The comparison
  * is Spark SQL's, NOT Java's primitive `<`: Spark compares floating
  * point through Utils.nanSafeCompareDoubles, which orders NaN ABOVE
  * everything (so the HOF's `v > e` on a NaN probe keeps every
  * non-NaN bound — a Java-primitive binary search would return 0
  * there; BoundsExprSpec caught exactly that divergence). Using the
  * same comparator:
  *  - equal elements are NOT counted (strict <), exactly the HOF's
  *    `v > e`; -0.0 and 0.0 compare equal on both sides;
  *  - v = NaN counts every non-NaN bound, exactly the HOF;
  *  - ±Inf probe or bound values order normally;
  *  - null array or null v -> NULL (BinaryExpression null-intolerant
  *    default). The HOF differs here (null v filters everything ->
  *    0; null array -> size(null) = NULL), but the caller rejects
  *    null probe values before routing, and for bucket routing ANY
  *    monotone assignment is correctness-neutral anyway — the
  *    rank-count algebra needs bucket(v) monotone in v and identical
  *    for points and probes, nothing more.
  *
  * Requiring containsNull=false keeps the binary search sound (a null
  * slot has no order position); percentile_approx output satisfies it.
  */
case class LowerBoundCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, false), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"lb_count requires (array<double> with containsNull=false, double), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = IntegerType

  /** `e < v` in Spark SQL's floating-point total order (Spark's
    * nanSafeCompareDoubles is private[spark], so restated): NaN sorts
    * above everything incl. +Inf and equals itself; -0.0 == 0.0 via
    * the primitive compare on the both-non-NaN branch.
    *
    * DUAL-PATH WARNING (ADVICE r21): this comparator is restated a
    * second time as Java source in doGenCode below — any edit here
    * MUST be mirrored there, and BoundsExprSpec's codegen+interpreted
    * equivalence tests are the tripwire that catches a one-sided edit
    * (they already caught the Java-primitive NaN divergence once).
    */
  @inline private def sqlLt(e: Double, v: Double): Boolean =
    if (java.lang.Double.isNaN(e)) false
    else java.lang.Double.isNaN(v) || e < v

  override def nullSafeEval(a: Any, b: Any): Any = {
    val bs = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[Double]
    var lo = 0
    var hi = bs.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sqlLt(bs.getDouble(mid), v)) lo = mid + 1 else hi = mid
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bs, v) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val e = ctx.freshName("e")
      s"""
         |int $lo = 0;
         |int $hi = $bs.numElements();
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  double $e = $bs.getDouble($mid);
         |  // e < v in Spark SQL's order: NaN above everything, NaN == NaN
         |  // — the Java restatement of sqlLt above; edit BOTH or
         |  // BoundsExprSpec's dual-path tests go red (ADVICE r21)
         |  if (!Double.isNaN($e) && (Double.isNaN($v) || $e < $v)) {
         |    $lo = $mid + 1;
         |  } else {
         |    $hi = $mid;
         |  }
         |}
         |${ev.value} = $lo;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lb_count"
}
