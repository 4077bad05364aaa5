package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoinExec, AsOfStrategy, GraftExtensions}

/** The install point for Graft's Catalyst surface: GraftExtensions on
  * the sessions Graft builds, SparkEntry's idempotent install on the
  * others, and the BigramGenerator table function it carries.
  */
class ExtensionsSpec extends SparkSpec {

  private val arities = Seq("float_dot" -> 2, "double_dot" -> 2, "abs_max" -> 1,
    "sq8_quantize" -> 2, "long_dot" -> 2, "in_count" -> 2, "fp_hash" -> 1,
    "bigrams" -> 1, "lb_count" -> 2, "morton" -> 2)

  private def resolves(s: SparkSession, name: String): Boolean =
    s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** AsOfStrategy entries the session's planner runs: the injected one
    * plus any the install added. */
  private def asOfStrategies(s: SparkSession): Int =
    s.sessionState.planner.strategies.count(_ == AsOfStrategy)

  test("BigramGenerator emits n-1 bigrams per doc and handles short docs") {
    import spark.implicits._
    val df = Seq("a b c d", "solo", "x y").toDF("text")
      .select(expr("bigrams(split(text, ' '))"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a b", "b c", "c d", "x y"))
  }

  test("every table function resolves on the session and on its newSession()") {
    assert(GraftExtensions.functions.map(_._1.funcName).sorted == arities.map(_._1).sorted)
    for (s <- Seq(spark, spark.newSession()); (name, _) <- arities)
      assert(resolves(s, name), s"$name does not resolve")
  }

  test("a wrong argument count fails analysis with the function's name and arity") {
    for ((name, arity) <- arities; n <- Seq(arity - 1, arity + 1)) {
      val call = s"$name(${Seq.fill(n)("id").mkString(", ")})"
      val e = intercept[AnalysisException](spark.range(1).selectExpr(call))
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$call: ${e.getMessage}")
      assert(e.getMessage.contains(s"`$name` requires $arity parameters") &&
        e.getMessage.contains(s"actual number is $n"), s"$call: ${e.getMessage}")
    }
  }

  test("SparkEntry's install fixes a session whose Graft functions were dropped") {
    val s = spark.newSession()
    arities.foreach { case (name, _) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name)) }
    assert(arities.forall { case (name, _) => !resolves(s, name) })
    intercept[AnalysisException](s.range(1).selectExpr("float_dot(array(1f), array(1f))"))
    val injected = asOfStrategies(s)

    val dedup = SparkEntry.queries("q_dedup_embed")(s, sf)
    dedup.queryExecution.assertAnalyzed()
    assert(arities.forall { case (name, _) => resolves(s, name) })
    assert(asOfStrategies(s) == injected + 1, "the install must add AsOfStrategy")
    val asof = SparkEntry.queries("q_join_asof_custom")(s, sf)
    asof.queryExecution.assertAnalyzed()
    assert(asof.queryExecution.sparkPlan.collect { case j: AsOfJoinExec => j }.size == 1,
      asof.queryExecution.sparkPlan.toString)
  }

  test("running the install twice adds AsOfStrategy once") {
    val s = spark.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("morton"))
    val injected = asOfStrategies(s)
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(asOfStrategies(s) == injected + 1)
  }

  test("on a session built with the extension the install adds nothing") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    def builders = arities.map { case (name, _) =>
      registry.lookupFunctionBuilder(FunctionIdentifier(name)).get }
    val before = builders
    val injected = asOfStrategies(s)
    GraftExtensions.install(s)
    assert(injected == 1 && asOfStrategies(s) == 1)
    assert(builders.zip(before).forall { case (a, b) => a eq b },
      "the install must not re-register the extension's functions")
  }
}
