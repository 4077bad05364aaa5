package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LowerBoundCount's scaladoc claims `lb_count(bs, v)` equals the
  * interpreted HOF form `size(filter(bs, e -> v > e))` on its domain
  * (sorted array<double> with containsNull=false, non-null v) — by
  * binary search, which is only sound if those equivalences really
  * hold at the edges: duplicate bounds, probe equal to a bound,
  * probe below/above every bound, ±Inf bounds and probes, NaN probe
  * (Spark orders NaN ABOVE everything — nanSafeCompareDoubles, not
  * Java primitive compare; the first draft of the expression used the
  * primitive and THIS SPEC caught it returning 0 where the HOF counts
  * every non-NaN bound), empty array. The production caller
  * (q_join_interval_overlap's quantile-bucket routing) never leaves
  * that domain, but the oracle only checks fixture data, so this spec
  * pins the claim on hostile inputs in BOTH execution modes.
  */
class BoundsExprSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("bs", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("v", DoubleType, nullable = true)))

  private def fixtureRows: Seq[Row] = {
    val rng = new scala.util.Random(20260818L)
    def sortedBounds(n: Int): Seq[java.lang.Double] = {
      val raw = Seq.fill(n) {
        rng.nextInt(8) match {
          case 0 => Double.NegativeInfinity
          case 1 => Double.PositiveInfinity
          case 2 => rng.nextInt(5).toDouble // force duplicates
          case _ => rng.nextDouble() * 200.0 - 100.0
        }
      }
      raw.sorted.map(java.lang.Double.valueOf)
    }
    val random = (0 until 300).map { i =>
      val bs = sortedBounds(rng.nextInt(70))
      val v: java.lang.Double = rng.nextInt(6) match {
        case 0 if bs.nonEmpty => bs(rng.nextInt(bs.length)) // exact bound hit
        case 1 => Double.NaN
        case 2 => Double.PositiveInfinity
        case 3 => Double.NegativeInfinity
        case _ => java.lang.Double.valueOf(rng.nextDouble() * 300.0 - 150.0)
      }
      Row(i, bs, v)
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Double], java.lang.Double.valueOf(1.0)), // empty -> 0
      Row(1001, Seq[java.lang.Double](5.0, 5.0, 5.0), java.lang.Double.valueOf(5.0)), // all-equal, probe on it -> 0
      Row(1002, Seq[java.lang.Double](5.0, 5.0, 5.0), java.lang.Double.valueOf(5.5)), // just above -> 3
      Row(1003, Seq[java.lang.Double](1.0, 2.0, 3.0), java.lang.Double.valueOf(0.0)), // below all -> 0
      Row(1004, Seq[java.lang.Double](1.0, 2.0, 3.0), java.lang.Double.valueOf(9.0)), // above all -> 3
      Row(1005, Seq[java.lang.Double](1.0, 2.0, 3.0), java.lang.Double.valueOf(Double.NaN)), // NaN above all -> 3
      Row(1006, Seq[java.lang.Double](Double.NegativeInfinity, 0.0, Double.PositiveInfinity),
        java.lang.Double.valueOf(Double.PositiveInfinity)), // Inf probe counts all-but-equal -> 2
      Row(1007, null, java.lang.Double.valueOf(1.0)), // null array: both forms NULL
      Row(1008, Seq[java.lang.Double](1.0, 2.0, Double.NaN),
        java.lang.Double.valueOf(5.0))) // NaN bound sorts last, never below a finite probe -> 2
    random ++ edges
  }

  /** (id -> value-or-null) for both forms under the current session conf. */
  private def bothForms(): Map[Int, (Option[Int], Option[Int])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(fixtureRows).asJava),
      schema)
    val out = df.select(col("id"),
      expr("lb_count(bs, v)").as("fast"),
      expr("size(filter(bs, e -> v > e))").as("ref"))
      .collect()
    out.map { r =>
      def v(i: Int): Option[Int] = if (r.isNullAt(i)) None else Some(r.getInt(i))
      r.getInt(0) -> (v(1), v(2))
    }.toMap
  }

  test("lb_count == HOF reference on adversarial sorted inputs (codegen path)") {
    val m = bothForms()
    assert(m.nonEmpty)
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"lb_count diverged from the HOF reference: $bad")
    // the fixture genuinely exercises every class
    assert(m(1000) == (Some(0), Some(0)), "empty array must count 0")
    assert(m(1001) == (Some(0), Some(0)), "probe equal to duplicate bounds counts none (strict <)")
    assert(m(1002) == (Some(3), Some(3)), "probe above duplicates counts all of them")
    assert(m(1005) == (Some(3), Some(3)), "NaN probe orders above every non-NaN bound -> 3")
    assert(m(1006) == (Some(2), Some(2)), "+Inf probe counts everything except the equal +Inf bound")
    assert(m(1007)._1.isEmpty && m(1007)._2.isEmpty, "null array must be NULL in both forms")
    assert(m(1008) == (Some(2), Some(2)), "a NaN bound is never below a finite probe")
  }

  test("lb_count == HOF reference with codegen disabled (interpreted eval path)") {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val m = bothForms()
      val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted lb_count diverged: $bad")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  test("documented domain edge: null probe is the one divergence (HOF 0, lb_count NULL)") {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        Seq(Row(0, Seq[java.lang.Double](1.0, 2.0), null)): Seq[Row]).asJava),
      schema)
    val r = df.select(expr("lb_count(bs, v)"), expr("size(filter(bs, e -> v > e))")).head()
    assert(r.isNullAt(0), "lb_count is null-intolerant on v")
    assert(r.getInt(1) == 0, "the HOF filters everything on null v -> 0")
    // the production caller rejects null probe values before routing,
    // so this class never reaches the bucket function (Frontier side())
  }
}
