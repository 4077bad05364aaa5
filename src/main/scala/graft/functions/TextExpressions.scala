package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `in_count(toks, list)` ≡ `size(filter(toks, t -> t IN (list...)))`
  * for a FOLDABLE null-free string list — the stopword-hit counter on
  * the language-ID / quality hot path (r22, guide §4). The HOF form
  * evaluates an interpreted lambda per token per list — q_text_langid
  * runs FOUR of them over every token of every document — while this
  * expression is one codegen hash-set probe per token.
  *
  * Semantics, token by token (TextExprSpec pins both eval paths):
  *  - a token counts iff it string-equals some list element — exact
  *    binary UTF8 equality, the same comparison IN performs;
  *  - a NULL token never counts (IN yields NULL, filter drops it);
  *  - a NULL list element could only ever turn a non-match into NULL,
  *    and for COUNTING null and false are the same outcome, so the
  *    set simply skips null list slots — no divergence is possible;
  *  - NULL toks array → NULL (size(null) = NULL with the non-legacy
  *    sizeOfNull default this engine runs everywhere).
  * The list must be foldable (it is a literal stop list at every call
  * site) so the probe set is built once per plan, not per row —
  * enforced at analysis time, not silently per-row-rebuilt.
  */
case class InCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      if (right.foldable) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "in_count requires a foldable (literal) list argument")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"in_count requires (array<string>, array<string>), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override def dataType: DataType = IntegerType

  /** The probe set, built once from the foldable list (null slots
    * skipped — see scaladoc). UTF8String hashCode/equals are
    * byte-exact, the same equality IN uses.
    */
  @transient private lazy val probeSet: java.util.HashSet[UTF8String] = {
    val set = new java.util.HashSet[UTF8String]()
    val arr = right.eval(null).asInstanceOf[ArrayData]
    if (arr != null) {
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) set.add(arr.getUTF8String(i))
        i += 1
      }
    }
    set
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i) && probeSet.contains(toks.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("inCountSet", probeSet,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    nullSafeCodeGen(ctx, ev, (toks, _) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $toks.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$toks.isNullAt($i) && $setRef.contains($toks.getUTF8String($i))) {
         |    $cnt++;
         |  }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "in_count"
}

/** `fp_hash(toks)` ≡
  * `aggregate(transform(toks, t -> CAST(ascii(t) * 256 + length(t) AS BIGINT)),
  *            0L, (a, b) -> (a * 131 + b) % 1000000007)`
  * — q_text_fingerprint's rolling hash, fused into one codegen pass
  * (r22, guide §4; the HOF pair ran two interpreted lambdas per token
  * over the full corpus).
  *
  * The per-token feature replays Spark's own `ascii`/`length` by
  * making the SAME calls they make (probed against the 4.1.2
  * bytecode and pinned empirically in TextExprSpec): ascii = first
  * CODE POINT via UTF8String→String.codePointAt(0) (ascii('') = 0,
  * supplementary planes return the full code point), length =
  * UTF8String.numChars (code points, so an emoji counts 1). The fold
  * is exact long arithmetic: acc stays in [0, 1e9), b ≤ 0x10FFFF·256
  * + numChars, so a·131 + b < 1.4e11 — no overflow is reachable and
  * ANSI's checked ops can never fire. The HOF is NOT bounded the same
  * way: it computes ascii(t)*256 + length(t) in INT arithmetic, which
  * under ANSI throws once that sum passes 2^31 - 1 — for a token of
  * about 1.86e9 characters whose first code point is 0x10FFFF, more
  * for smaller ones — where fp_hash returns a value. The divergence is
  * unreachable only because no real token comes near that length (a
  * string value is capped at 2 GB of UTF-8, so it is not strictly
  * impossible). A null token poisons the fold to
  * NULL exactly like `acc + null`; the fold never recovers, and the
  * skipped later per-token features are side-effect-free (ascii
  * cannot throw), so early-null is unobservable. NULL array → NULL,
  * empty array → 0 (the fold's zero), both matching the HOF.
  */
case class FpHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fp_hash requires array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  // a null token yields NULL even for a non-null array
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val t = arr.getUTF8String(i)
      val nc = t.numChars()
      val cp = if (nc == 0) 0 else t.toString.codePointAt(0)
      acc = (acc * 131L + (cp * 256L + nc)) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      val nc = ctx.freshName("nc")
      val cp = ctx.freshName("cp")
      s"""
         |int $n = $arr.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  org.apache.spark.unsafe.types.UTF8String $t = $arr.getUTF8String($i);
         |  int $nc = $t.numChars();
         |  // same calls Spark's ascii() makes — see scaladoc
         |  int $cp = ($nc == 0) ? 0 : $t.toString().codePointAt(0);
         |  $acc = ($acc * 131L + ((long) $cp * 256L + (long) $nc)) % 1000000007L;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fp_hash"
}
