package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** True Catalyst table function (Generator): token array → one row per
  * adjacent bigram. The UDTF showcase from SURVEY §2.9/§7.5 — unlike
  * the explode(transform(...)) composition it produces rows directly
  * without materializing the intermediate bigram array per record.
  */
case class BigramGenerator(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(Seq(StructField("bigram", StringType)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bigrams expects array<string>, got ${other.simpleString}")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() < 2) Iterator.empty
    else {
      val sep = UTF8String.fromString(" ")
      (0 until arr.numElements() - 1).iterator.map { i =>
        InternalRow(UTF8String.concat(arr.getUTF8String(i), sep, arr.getUTF8String(i + 1)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bigrams"
}
