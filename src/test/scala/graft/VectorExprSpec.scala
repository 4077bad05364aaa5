package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adversarial-input twin of [[VectorExprProps]]: FloatDotProduct's
  * scaladoc claims bit-identical semantics to the interpreted HOF form
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` —
  * including the degenerate cases the parquet fixtures never contain
  * (ragged pairs, null elements, empty arrays, NaN/±Inf, denormals).
  * The oracle only checks fixture data, so this spec is the one place
  * that claim is tested on hostile inputs, in BOTH execution modes
  * (whole-stage codegen and the interpreted eval path).
  */
class VectorExprSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
    StructField("b", ArrayType(FloatType, containsNull = true), nullable = true)))

  private def fixtureRows: Seq[Row] = {
    val rng = new scala.util.Random(20260815L)
    def vec(n: Int): Seq[java.lang.Float] = Seq.fill(n) {
      val f: Float = rng.nextInt(8) match {
        case 0 => rng.nextFloat() * 2e38f          // near-overflow magnitudes
        case 1 => java.lang.Float.MIN_VALUE * rng.nextInt(100) // denormals
        case 2 => -rng.nextFloat()
        case _ => rng.nextFloat() * 100f - 50f
      }
      java.lang.Float.valueOf(f)
    }
    val random = (0 until 200).map { i =>
      val n = rng.nextInt(12)
      val a = vec(n)
      // 1-in-4 ragged, 1-in-5 with a null element slot
      val b0 = if (rng.nextInt(4) == 0) vec(n + 1 + rng.nextInt(3)) else vec(n)
      val b = if (rng.nextInt(5) == 0 && b0.nonEmpty)
        b0.updated(rng.nextInt(b0.length), null.asInstanceOf[java.lang.Float])
      else b0
      Row(i, a, b)
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Float], Seq.empty[java.lang.Float]), // 0.0, not null
      Row(1001, null, vec(3)),                                           // null array
      Row(1002, vec(3), null),
      Row(1003, Seq[java.lang.Float](Float.NaN, 1f), Seq[java.lang.Float](2f, 3f)),
      Row(1004, Seq[java.lang.Float](Float.PositiveInfinity), Seq[java.lang.Float](0f)), // Inf*0 = NaN
      Row(1005, Seq[java.lang.Float](Float.PositiveInfinity, Float.NegativeInfinity),
        Seq[java.lang.Float](1f, 1f)),                                   // Inf + -Inf = NaN
      Row(1006, Seq[java.lang.Float](Float.MaxValue, Float.MaxValue),
        Seq[java.lang.Float](Float.MaxValue, Float.MaxValue)),           // finite in double
      Row(1007, Seq[java.lang.Float](null), Seq[java.lang.Float](1f)),   // null elem both sides
      Row(1008, Seq.empty[java.lang.Float], vec(2)))                     // empty vs non-empty = ragged
    random ++ edges
  }

  /** (id -> bits-or-null) for both forms under the current session conf. */
  private def bothForms(): Map[Int, (Option[Long], Option[Long])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(fixtureRows).asJava),
      schema)
    val out = df.select(col("id"),
      expr("float_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), " +
        "cast(0 as double), (acc, v) -> acc + v)").as("ref"))
      .collect()
    out.map { r =>
      def bits(i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        // doubleToLongBits canonicalizes NaN — "same value" for any NaN,
        // exact bit equality for everything else
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      r.getInt(0) -> (bits(1), bits(2))
    }.toMap
  }

  test("float_dot == HOF reference on adversarial inputs (codegen path)") {
    val m = bothForms()
    assert(m.nonEmpty)
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"float_dot diverged from the HOF reference: $bad")
    // the fixture genuinely exercises every class
    assert(m(1000) == (Some(java.lang.Double.doubleToLongBits(0.0)),
      Some(java.lang.Double.doubleToLongBits(0.0))), "empty×empty must be 0.0, not null")
    assert(m(1001)._1.isEmpty && m(1008)._1.isEmpty && m(1007)._1.isEmpty,
      "null array, ragged and null-element must all yield NULL")
    assert(m(1004)._1.contains(java.lang.Double.doubleToLongBits(Double.NaN)),
      "Inf×0 must be NaN")
  }

  test("float_dot == HOF reference with codegen disabled (interpreted eval path)") {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val m = bothForms()
      val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted float_dot diverged: $bad")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  // --- double_dot: the mixed float×double sibling (q_sim_ann_lsh's
  // signature projection). Same bit-identity claim against the HOF it
  // replaced, same hostile classes, plus the exact LSH plane values.

  private val mixedSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
    StructField("p", ArrayType(DoubleType, containsNull = true), nullable = true)))

  private def mixedRows: Seq[Row] = {
    val rng = new scala.util.Random(20260818L)
    def fvec(n: Int): Seq[java.lang.Float] = Seq.fill(n)(
      java.lang.Float.valueOf(rng.nextFloat() * 100f - 50f))
    // the production plane values: k/2^31 - 1 exact dyadic rationals
    def pvec(n: Int): Seq[java.lang.Double] = Seq.fill(n) {
      val h = (2654435761L * (rng.nextInt(1 << 20) + 1)) & 0xffffffffL
      java.lang.Double.valueOf(h.toDouble / 2147483648.0 - 1.0)
    }
    val random = (0 until 200).map { i =>
      val n = rng.nextInt(12)
      val a0 = fvec(n)
      val a = if (rng.nextInt(5) == 0 && a0.nonEmpty)
        a0.updated(rng.nextInt(a0.length), null.asInstanceOf[java.lang.Float])
      else a0
      val p = if (rng.nextInt(4) == 0) pvec(n + 1 + rng.nextInt(3)) else pvec(n)
      Row(i, a, p)
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Float], Seq.empty[java.lang.Double]), // 0.0, not null
      Row(1001, null, pvec(3)),
      Row(1002, fvec(3), null),
      Row(1003, Seq[java.lang.Float](Float.NaN, 1f), pvec(2)),            // NaN propagates
      Row(1004, Seq[java.lang.Float](Float.PositiveInfinity), Seq[java.lang.Double](0.0)), // Inf*0 = NaN
      Row(1005, Seq.empty[java.lang.Float], pvec(2)))                     // ragged via empty
    random ++ edges
  }

  private def bothMixedForms(): Map[Int, (Option[Long], Option[Long])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(mixedRows).asJava),
      mixedSchema)
    val out = df.select(col("id"),
      expr("double_dot(a, p)").as("fast"),
      expr("aggregate(zip_with(a, p, (x, y) -> CAST(x AS DOUBLE) * y), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("ref"))
      .collect()
    out.map { r =>
      def bits(i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      r.getInt(0) -> (bits(1), bits(2))
    }.toMap
  }

  test("double_dot == HOF reference on adversarial inputs (codegen path)") {
    val m = bothMixedForms()
    assert(m.nonEmpty)
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"double_dot diverged from the HOF reference: $bad")
    assert(m(1000) == (Some(java.lang.Double.doubleToLongBits(0.0)),
      Some(java.lang.Double.doubleToLongBits(0.0))), "empty×empty must be 0.0, not null")
    assert(m(1001)._1.isEmpty && m(1002)._1.isEmpty && m(1005)._1.isEmpty,
      "null array and ragged must yield NULL")
    assert(m(1004)._1.contains(java.lang.Double.doubleToLongBits(Double.NaN)),
      "Inf×0 must be NaN")
  }

  test("double_dot == HOF reference with codegen disabled (interpreted eval path)") {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val m = bothMixedForms()
      val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted double_dot diverged: $bad")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  test("unrolled LSH signature == the nested-HOF fold it replaced, bit for bit") {
    // the production planes, verbatim (SimilarityOps.simAnnLsh)
    val planes: Array[Array[Double]] = Array.tabulate(8, 64) { (j, d) =>
      val h = (2654435761L * (j * 64 + d + 1)) & 0xffffffffL
      h.toDouble / 2147483648.0 - 1.0
    }
    val rng = new scala.util.Random(20260819L)
    def fvec(n: Int): Seq[java.lang.Float] = Seq.fill(n)(
      java.lang.Float.valueOf(rng.nextFloat() * 2f - 1f))
    val rows: Seq[Row] = (0 until 100).map { i =>
      val a = rng.nextInt(10) match {
        case 0 => fvec(64).updated(rng.nextInt(64), null.asInstanceOf[java.lang.Float]) // null slot
        case 1 => fvec(rng.nextInt(64))                                                 // ragged
        case 2 => fvec(64).updated(rng.nextInt(64), java.lang.Float.valueOf(Float.NaN)) // NaN slot
        case _ => fvec(64)
      }
      Row(i, a, null)
    }
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      mixedSchema).withColumn("planes", typedlit(planes))
    val unrolled = (0 until planes.length).foldLeft(lit(0)) { (acc, j) =>
      acc * lit(2) +
        when(expr(s"double_dot(a, planes[$j]) >= 0"), lit(1)).otherwise(lit(0))
    }
    val hof = expr(
      """aggregate(transform(planes, p ->
        |  CASE WHEN aggregate(zip_with(a, p, (x, y) -> CAST(x AS DOUBLE) * y),
        |                      CAST(0 AS DOUBLE), (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END),
        |  0, (acc, bit) -> acc * 2 + bit)""".stripMargin)
    val bad = df.select(col("id"), unrolled.as("fast"), hof.as("ref"))
      .where(col("fast") =!= col("ref") || col("fast").isNull =!= col("ref").isNull)
      .collect()
    assert(bad.isEmpty, s"unrolled signature diverged: ${bad.mkString(", ")}")
  }
}
