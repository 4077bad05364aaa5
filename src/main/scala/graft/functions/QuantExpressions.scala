package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The SQ8 quantization trio (q_sim_quantized, r22 — the r21 roadmap's
  * item 1b): three codegen expressions replacing the three interpreted
  * higher-order functions on the int8-search hot path. HOF lambdas run
  * through interpreted `Invoke` objects outside whole-stage codegen
  * and allocate intermediate arrays per row (guide §4); at corpus
  * scale the quantize/dot passes are the per-byte hot loop of SQ8
  * serving. Each expression's semantics are pinned bit-for-bit against
  * the HOF it replaced by QuantExprSpec — codegen AND interpreted
  * paths, adversarial inputs — because the oracle only ever sees
  * fixture data.
  */

/** `abs_max(array<float>)` ≡
  * `array_max(transform(a, x -> abs(CAST(x AS DOUBLE))))`:
  * the symmetric-quantization scale. Null elements are SKIPPED
  * (array_max's contract), so the result is NULL only for a null,
  * empty or all-null array. Comparison is Spark SQL's floating-point
  * order (nanSafeCompareDoubles restated — the same comparator note
  * as lb_count, cross-checked by QuantExprSpec on both eval paths):
  * NaN ranks ABOVE everything, so one NaN component forces amax =
  * NaN, which the caller's `amax <= Double.MaxValue` guard then
  * rejects — corrupt vectors leave the index loudly-by-filter, never
  * with a partial scale. abs() never yields -0.0, so the keep-first
  * tie rule can't surface a sign difference.
  */
case class AbsMax(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"abs_max requires array<float>, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType

  // empty / all-null arrays yield NULL even for a non-null input
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var seen = false
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = math.abs(arr.getFloat(i).toDouble)
        // replace iff v > mx in Spark's order (NaN above everything;
        // equal keeps first) — mirrors ArrayMax's ordering.gt
        if (!seen || (java.lang.Double.isNaN(v) && !java.lang.Double.isNaN(mx)) ||
            (!java.lang.Double.isNaN(v) && !java.lang.Double.isNaN(mx) && v > mx)) {
          mx = v
          seen = true
        }
      }
      i += 1
    }
    if (seen) mx else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val mx = ctx.freshName("mx")
      val seen = ctx.freshName("seen")
      // same comparator as nullSafeEval — QuantExprSpec pins both paths
      s"""
         |int $n = $arr.numElements();
         |boolean $seen = false;
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    double $v = Math.abs((double) $arr.getFloat($i));
         |    if (!$seen || (Double.isNaN($v) && !Double.isNaN($mx)) ||
         |        (!Double.isNaN($v) && !Double.isNaN($mx) && $v > $mx)) {
         |      $mx = $v;
         |      $seen = true;
         |    }
         |  }
         |}
         |if ($seen) {
         |  ${ev.value} = $mx;
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "abs_max"
}

/** `sq8_quantize(array<float>, amax)` ≡
  * `transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / amax + 0.5D) AS BIGINT))`
  * — symmetric int8 encoding (floor(x+0.5) half-up rounding, the
  * engine↔oracle-portable convention). Null elements stay null.
  *
  * Overflow semantics — MEASURED, not assumed (r22 probe): Spark's
  * `floor(double)` already RETURNS BIGINT, via the Java `(long)`
  * conversion, which SATURATES (±Inf → Long.Max/Min, NaN → 0) even
  * under ANSI; the outer CAST is then bigint→bigint, a no-op. (A
  * direct CAST(double AS BIGINT) would throw [CAST_OVERFLOW] under
  * ANSI — but that is not the expression this replaces.) So the
  * replay here is `(long) Math.floor(...)`, saturating identically —
  * throwing would DIVERGE from the declared query. Unreachable with a
  * true abs_max scale anyway (|code| ≤ 127); QuantExprSpec pins the
  * saturation equivalence on a forced-overflow input.
  *
  * Input contract (one deliberate divergence, the lb_count style): a
  * NULL amax yields a NULL ARRAY here, where the HOF yields an array
  * of null elements. The only caller guards `amax > 0` before
  * encoding, so no row with null amax reaches this expression; any
  * other SQL caller must guard a NULL amax itself. QuantExprSpec pins
  * the corner in both execution modes.
  */
case class Sq8Quantize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"sq8_quantize requires (array<float>, double), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  private lazy val elementsNullable: Boolean = left.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = elementsNullable)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val amax = b.asInstanceOf[Double]
    val n = arr.numElements()
    val res = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // floor(double) is Spark's own double→BIGINT conversion: the
        // saturating (long) cast — see the scaladoc's measured note
        res(i) = math.floor(arr.getFloat(i).toDouble * 127.0 / amax + 0.5).toLong
      }
      i += 1
    }
    new GenericArrayData(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, amax) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val res = ctx.freshName("res")
      s"""
         |int $n = $arr.numElements();
         |Object[] $res = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    // saturating (long), exactly Spark's floor(double)→BIGINT
         |    double $d = Math.floor((double) $arr.getFloat($i) * 127.0D / $amax + 0.5D);
         |    $res[$i] = (Object) (Long) (long) $d;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sq8_quantize"
}

/** `long_dot(array<bigint>, array<bigint>)` ≡
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`
  * under ANSI — the exact integer dot product of SQ8 search. Semantics
  * replayed operation by operation:
  *  - zip_with is EAGER: every aligned non-null pair multiplies (with
  *    ANSI's loud overflow — Math.multiplyExact here) even when a null
  *    element or ragged padding has already doomed the sum to NULL;
  *  - the fold adds left-to-right with ANSI overflow (Math.addExact)
  *    until the first null product; after that `acc + v` null-poisons
  *    without arithmetic, so adds stop but multiplies continue;
  *  - ragged lengths pad with null AFTER the common prefix, so the
  *    prefix still multiplies-and-adds, then the result is NULL.
  * Overflow is unreachable for true SQ8 codes (|q| ≤ 127, so |Σ| ≤
  * 64·127² ≈ 1.03e6) — the exact checks exist so a foreign caller
  * diverges LOUDLY from the oracle's overflow-checked BIGINT math,
  * never silently (the CountMin.bucket convention). The one ordering
  * liberty: multiplies and adds interleave per index instead of
  * all-multiplies-then-all-adds, so WHICH overflow fires first can
  * differ on inputs where both would — throws-iff-throws is preserved
  * and QuantExprSpec pins it.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"long_dot requires two array<bigint> arguments, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = LongType

  // ragged / null-element inputs yield NULL even for non-null arrays
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xn = x.numElements()
    val yn = y.numElements()
    val n = math.min(xn, yn)
    var nullSeen = false
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) nullSeen = true
      else {
        val p = Math.multiplyExact(x.getLong(i), y.getLong(i))
        if (!nullSeen) acc = Math.addExact(acc, p)
      }
      i += 1
    }
    if (nullSeen || xn != yn) null else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val xn = ctx.freshName("xn")
      val yn = ctx.freshName("yn")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val nullSeen = ctx.freshName("nullSeen")
      s"""
         |int $xn = $x.numElements();
         |int $yn = $y.numElements();
         |int $n = Math.min($xn, $yn);
         |boolean $nullSeen = false;
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    $nullSeen = true;
         |  } else {
         |    long $p = Math.multiplyExact($x.getLong($i), $y.getLong($i));
         |    if (!$nullSeen) $acc = Math.addExact($acc, $p);
         |  }
         |}
         |if ($nullSeen || $xn != $yn) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_dot"
}
