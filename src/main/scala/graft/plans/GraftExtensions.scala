package graft.plans

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{GraftShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Graft's Catalyst surface, defined once: the table of custom SQL
  * functions and the as-of join's planner strategy. Sessions Graft
  * builds load it with `SparkSession.builder().withExtensions(new
  * GraftExtensions)` (GraftSession.builder, ScaleRehearsal, the test
  * base); `newSession()` keeps it. A session built without it (a
  * driver's own, PlanAudit's) gets the same table through
  * [[GraftExtensions.install]], which SparkEntry.queries applies.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => AsOfStrategy)
  }
}

object GraftExtensions {
  type Function = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One table entry: a call with any other argument count than `arity`
    * fails analysis with Spark's WRONG_NUM_ARGS error naming `name`.
    */
  private def fn[T <: Expression : ClassTag](name: String, arity: Int)(
      make: Seq[Expression] => T): Function =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getCanonicalName, null, name,
        null, "", "", "", "", "", "", "built-in"),
      args => if (args.size == arity) make(args)
        else throw GraftShim.wrongNumArgs(name, arity, args.size))

  val functions: Seq[Function] = Seq(
    fn("float_dot", 2)(a => FloatDotProduct(a(0), a(1))),
    fn("double_dot", 2)(a => FloatDoubleDotProduct(a(0), a(1))),
    fn("abs_max", 1)(a => AbsMax(a(0))),
    fn("sq8_quantize", 2)(a => Sq8Quantize(a(0), a(1))),
    fn("long_dot", 2)(a => LongDot(a(0), a(1))),
    fn("in_count", 2)(a => InCount(a(0), a(1))),
    fn("fp_hash", 1)(a => FpHash(a(0))),
    fn("bigrams", 1)(a => BigramGenerator(a(0))),
    fn("lb_count", 2)(a => LowerBoundCount(a(0), a(1))),
    fn("morton", 2)(a => MortonInterleave(a(0), a(1))))

  /** Idempotent install of the same table into a session built without
    * the extension. A session that already resolves every function is
    * left untouched; otherwise the functions are registered and
    * AsOfStrategy is added to the session's extra strategies once.
    */
  def install(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    if (!functions.forall { case (id, _, _) => registry.functionExists(id) }) {
      functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
      if (!s.experimental.extraStrategies.contains(AsOfStrategy))
        s.experimental.extraStrategies = s.experimental.extraStrategies :+ AsOfStrategy
    }
  }
}
