package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd Morton (Z-order) interleave of two 32-bit keys — the
  * data-layout primitive behind multi-dimensional clustering: sorting a
  * table by `morton(x, y)` makes parquet row-group min/max ranges tight
  * in BOTH x and y simultaneously, so scans filtered on either column
  * prune row groups, where a plain `ORDER BY x` only prunes x. This is
  * the same layout trick Delta's OPTIMIZE ZORDER BY and Iceberg's
  * z-ordered rewrites apply before writing (public docs); here it is a
  * first-class Catalyst expression usable in any projection / sort key.
  *
  * Semantics: the low 32 bits of each input are bit-interleaved
  * (x at even positions, y at odd) into one long via the standard
  * mask-and-shift spread (five shift/mask rounds, branch-free — the
  * textbook "interleave by magic numbers" bit hack). Upper input bits
  * are ignored by construction; null in → null out. The identical
  * shift/mask sequence is expressible in DuckDB integer arithmetic, so
  * the operator is oracle-checkable bit-for-bit.
  */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"morton requires two bigint arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    MortonInterleave.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.MortonInterleave.interleave($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "morton"
}

object MortonInterleave {
  /** Spread the low 32 bits of v to the even bit positions of a long. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** z = even bits from x, odd bits from y (static: called from codegen). */
  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}
