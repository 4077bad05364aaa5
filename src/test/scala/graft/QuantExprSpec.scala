package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Equivalence pins for the SQ8 codegen trio
  * (functions/QuantExpressions.scala): each expression's scaladoc
  * claims bit-identical semantics to the interpreted HOF it replaced
  * on q_sim_quantized's hot path. The oracle only checks fixture data,
  * so this spec is the one place those claims meet hostile inputs
  * (null slots, NaN/±Inf, -0.0, ragged pairs, near-overflow integers)
  * — in BOTH execution modes, like VectorExprSpec/BoundsExprSpec.
  */
class QuantExprSpec extends SparkSpec {

  private def withInterpreted[T](body: => T): T = {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  /** CODEGEN_ONLY, so a generated-code compile failure THROWS instead of
    * silently falling back to the interpreted path — without this, a
    * doGenCode bug would make the "codegen path" test quietly test the
    * same interpreted code twice (FALLBACK is the session default).
    */
  private def withForcedCodegen[T](body: => T): T = {
    val prior = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally spark.conf.set("spark.sql.codegen.factoryMode", prior)
  }

  private def mkDf(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)

  // ---- abs_max -----------------------------------------------------

  private val floatArrSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", ArrayType(FloatType, containsNull = true), nullable = true)))

  private def absMaxRows: Seq[Row] = {
    val rng = new scala.util.Random(20260901L)
    def vec(n: Int): Seq[java.lang.Float] = Seq.fill(n) {
      val f: Float = rng.nextInt(8) match {
        case 0 => rng.nextFloat() * 2e38f
        case 1 => java.lang.Float.MIN_VALUE * rng.nextInt(100) // denormals
        case 2 => -rng.nextFloat() * 1e5f
        case _ => rng.nextFloat() * 100f - 50f
      }
      java.lang.Float.valueOf(f)
    }
    val random = (0 until 200).map { i =>
      val a0 = vec(rng.nextInt(12))
      val a = if (rng.nextInt(5) == 0 && a0.nonEmpty)
        a0.updated(rng.nextInt(a0.length), null.asInstanceOf[java.lang.Float])
      else a0
      Row(i, a)
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Float]),                        // empty -> NULL
      Row(1001, null),                                              // null array -> NULL
      Row(1002, Seq[java.lang.Float](null, null)),                  // all-null -> NULL
      Row(1003, Seq[java.lang.Float](Float.NaN, 1e30f)),            // NaN above everything
      Row(1004, Seq[java.lang.Float](Float.PositiveInfinity, 1f)),  // +Inf
      Row(1005, Seq[java.lang.Float](Float.NegativeInfinity, 1f)),  // abs -> +Inf
      Row(1006, Seq[java.lang.Float](-0.0f, 0.0f)),                 // abs kills the sign
      Row(1007, Seq[java.lang.Float](null, 3f, null, 7f)))          // null-skip
    random ++ edges
  }

  private def absMaxBoth(): Map[Int, (Option[Long], Option[Long])] = {
    val out = mkDf(absMaxRows, floatArrSchema).select(col("id"),
      expr("abs_max(a)").as("fast"),
      expr("array_max(transform(a, x -> abs(CAST(x AS DOUBLE))))").as("ref"))
      .collect()
    out.map { r =>
      def bits(i: Int): Option[Long] =
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
      r.getInt(0) -> (bits(1), bits(2))
    }.toMap
  }

  test("abs_max == array_max(transform(abs)) on adversarial inputs (codegen path)") {
    val m = withForcedCodegen(absMaxBoth())
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"abs_max diverged from the HOF reference: $bad")
    assert(m(1000)._1.isEmpty && m(1001)._1.isEmpty && m(1002)._1.isEmpty,
      "empty, null and all-null arrays must all yield NULL")
    assert(m(1003)._1.contains(java.lang.Double.doubleToLongBits(Double.NaN)),
      "a NaN component must force amax = NaN (Spark orders NaN above everything)")
    assert(m(1007)._1.contains(java.lang.Double.doubleToLongBits(7.0)),
      "null elements must be skipped, not poison the max")
  }

  test("abs_max == HOF reference with codegen disabled (interpreted eval path)") {
    withInterpreted {
      val bad = absMaxBoth().collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted abs_max diverged: $bad")
    }
  }

  // ---- sq8_quantize ------------------------------------------------

  private val quantSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
    StructField("amax", DoubleType, nullable = true)))

  private def quantRows: Seq[Row] = {
    val rng = new scala.util.Random(20260902L)
    def vec(n: Int): Seq[java.lang.Float] = Seq.fill(n)(
      java.lang.Float.valueOf(rng.nextFloat() * 200f - 100f))
    val random = (0 until 200).map { i =>
      val a0 = vec(1 + rng.nextInt(12))
      val a = if (rng.nextInt(5) == 0)
        a0.updated(rng.nextInt(a0.length), null.asInstanceOf[java.lang.Float])
      else a0
      // the caller always passes the vector's own abs_max; also exercise
      // foreign finite scales (tiny -> huge codes, still in-range)
      val amax = rng.nextInt(3) match {
        case 0 => a.collect { case f: java.lang.Float => math.abs(f.toDouble) }
          .foldLeft(0.0)(math.max)
        case 1 => 1e-3
        case _ => 12.5
      }
      Row(i, a, java.lang.Double.valueOf(if (amax == 0.0) 1.0 else amax))
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Float], java.lang.Double.valueOf(3.0)), // empty -> empty
      Row(1001, null, java.lang.Double.valueOf(3.0)),                       // null array -> NULL
      Row(1002, Seq[java.lang.Float](null, 1f, null), java.lang.Double.valueOf(1.0)),
      Row(1003, Seq[java.lang.Float](-1f, 1f, 0.5f), java.lang.Double.valueOf(1.0)),
      // negative amax: sign flip, still exact
      Row(1004, Seq[java.lang.Float](2f, -2f), java.lang.Double.valueOf(-1.0)),
      // NaN amax (the caller's guard excludes it, but the equivalence
      // must still hold): NaN quotient -> floor's saturating NaN -> 0
      Row(1005, Seq[java.lang.Float](1f, -3f), java.lang.Double.valueOf(Double.NaN)))
    random ++ edges
  }

  private def quantBoth(): Map[Int, (Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])] = {
    val out = mkDf(quantRows, quantSchema).select(col("id"),
      expr("sq8_quantize(a, amax)").as("fast"),
      expr("transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / amax + 0.5D) AS BIGINT))")
        .as("ref"))
      .collect()
    out.map { r =>
      def arr(i: Int): Option[Seq[Option[Long]]] =
        if (r.isNullAt(i)) None
        else Some(r.getSeq[Any](i).map(v => Option(v).map(_.asInstanceOf[Long])))
      r.getInt(0) -> (arr(1), arr(2))
    }.toMap
  }

  test("sq8_quantize == transform-encode HOF on adversarial inputs (codegen path)") {
    val m = withForcedCodegen(quantBoth())
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"sq8_quantize diverged from the HOF reference: $bad")
    assert(m(1000)._1.contains(Seq.empty), "empty array must encode to empty, not NULL")
    assert(m(1001)._1.isEmpty, "null array must yield NULL")
    assert(m(1002)._1.contains(Seq(None, Some(127L), None)),
      "null elements must stay null; 1f at amax=1 must be exactly 127")
    assert(m(1003)._1.contains(Seq(Some(-127L), Some(127L), Some(64L))),
      "floor(x+0.5) half-up: -127, 127, floor(63.5+0.5)=64")
    assert(m(1005)._1.contains(Seq(Some(0L), Some(0L))),
      "NaN amax must saturate every code to 0 via floor's (long) NaN conversion")
  }

  test("sq8_quantize == HOF reference with codegen disabled (interpreted eval path)") {
    withInterpreted {
      val bad = quantBoth().collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted sq8_quantize diverged: $bad")
    }
  }

  test("sq8_quantize replays floor's SATURATING double→BIGINT conversion exactly") {
    // Spark's floor(double) RETURNS BIGINT via the Java (long) cast —
    // saturating, never throwing, even under ANSI (measured r22: a
    // direct CAST(1e300D AS BIGINT) throws [CAST_OVERFLOW], but
    // CAST(floor(1e300D) AS BIGINT) yields Long.MaxValue). The
    // expression must saturate identically, not throw.
    val rows = Seq(
      // +Inf quotient -> Long.MaxValue; -Inf -> Long.MinValue
      Row(0, Seq[java.lang.Float](3.4e38f, -3.4e38f), java.lang.Double.valueOf(1e-300)))
    val out = mkDf(rows, quantSchema).select(
      expr("sq8_quantize(a, amax)").as("fast"),
      expr("transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / amax + 0.5D) AS BIGINT))")
        .as("ref")).collect()(0)
    assert(out.getSeq[Long](0) == Seq(Long.MaxValue, Long.MinValue),
      "overflow codes must saturate like floor's (long) conversion")
    assert(out.getSeq[Long](0) == out.getSeq[Long](1),
      "sq8_quantize must match the HOF bit-for-bit on overflow inputs")
  }

  test("sq8_quantize on a NULL amax: a NULL array, where the HOF gives nulls per element") {
    // the one deliberate divergence from the HOF (Sq8Quantize's input
    // contract): q_sim_quantized guards amax > 0, but the function is
    // registered session-wide, so the corner is pinned here
    val rows = Seq(
      Row(0, Seq[java.lang.Float](1f, null, -2f), null),
      Row(1, null, null))
    def run() = mkDf(rows, quantSchema).select(col("id"),
      expr("sq8_quantize(a, amax)").as("fast"),
      expr("transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / amax + 0.5D) AS BIGINT))")
        .as("ref")).orderBy("id").collect()
    for ((mode, out) <- Seq("codegen" -> withForcedCodegen(run()), "interpreted" -> withInterpreted(run()))) {
      assert(out(0).isNullAt(1), s"$mode: a NULL amax must yield a NULL array")
      assert(out(0).getSeq[Any](2) == Seq(null, null, null),
        s"$mode: the HOF yields one null per element")
      assert(out(1).isNullAt(1) && out(1).isNullAt(2), s"$mode: a NULL array stays NULL in both")
    }
  }

  // ---- long_dot ----------------------------------------------------

  private val longSchema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", ArrayType(LongType, containsNull = true), nullable = true),
    StructField("b", ArrayType(LongType, containsNull = true), nullable = true)))

  private def longRows: Seq[Row] = {
    val rng = new scala.util.Random(20260903L)
    def vec(n: Int): Seq[java.lang.Long] = Seq.fill(n) {
      val v: Long = rng.nextInt(4) match {
        case 0 => rng.nextInt(255).toLong - 127L            // true SQ8 codes
        case 1 => rng.nextLong() % 1000000000L              // ~1e9: products near but under 2^63
        case _ => rng.nextInt(2001).toLong - 1000L
      }
      java.lang.Long.valueOf(v)
    }
    val random = (0 until 200).map { i =>
      val n = rng.nextInt(12)
      val a = vec(n)
      val b0 = if (rng.nextInt(4) == 0) vec(n + 1 + rng.nextInt(3)) else vec(n)
      val b = if (rng.nextInt(5) == 0 && b0.nonEmpty)
        b0.updated(rng.nextInt(b0.length), null.asInstanceOf[java.lang.Long])
      else b0
      Row(i, a, b)
    }
    val edges = Seq(
      Row(1000, Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]), // 0, not NULL
      Row(1001, null, vec(3)),
      Row(1002, vec(3), null),
      Row(1003, Seq[java.lang.Long](null), Seq[java.lang.Long](5L)),   // null elem -> NULL
      Row(1004, Seq.empty[java.lang.Long], vec(2)),                    // ragged via empty
      Row(1005, Seq[java.lang.Long](127L, -127L), Seq[java.lang.Long](127L, 127L)))
    random ++ edges
  }

  private def longBoth(): Map[Int, (Option[Long], Option[Long])] = {
    val out = mkDf(longRows, longSchema).select(col("id"),
      expr("long_dot(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("ref"))
      .collect()
    out.map { r =>
      def v(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getInt(0) -> (v(1), v(2))
    }.toMap
  }

  test("long_dot == zip_with/aggregate HOF on adversarial inputs (codegen path)") {
    val m = withForcedCodegen(longBoth())
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"long_dot diverged from the HOF reference: $bad")
    assert(m(1000) == (Some(0L), Some(0L)), "empty×empty must be 0, not NULL")
    assert(m(1001)._1.isEmpty && m(1003)._1.isEmpty && m(1004)._1.isEmpty,
      "null array, null element and ragged must all yield NULL")
    assert(m(1005)._1.contains(0L), "127*127 + (-127)*127 must be exactly 0")
  }

  test("long_dot == HOF reference with codegen disabled (interpreted eval path)") {
    withInterpreted {
      val bad = longBoth().collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted long_dot diverged: $bad")
    }
  }

  test("long_dot replays ANSI's LOUD integer overflow (throws iff the HOF throws)") {
    def runs(rows: Seq[Row], e: String): Boolean =
      try { mkDf(rows, longSchema).select(expr(e)).collect(); true }
      catch { case _: Throwable => false }
    val hof = "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    // multiply overflow: 2^32 * 2^32
    val mulRows = Seq(Row(0, Seq[java.lang.Long](4294967296L), Seq[java.lang.Long](4294967296L)))
    // add overflow: two products of 2^62
    val big = java.lang.Long.valueOf(1L << 31)
    val addRows = Seq(Row(0, Seq[java.lang.Long](big, big), Seq[java.lang.Long](big, big)))
    // multiply overflow BEHIND a null element: zip_with is eager, so the
    // HOF still throws even though the fold is already null-poisoned
    val mulAfterNull = Seq(Row(0,
      Seq[java.lang.Long](null, 4294967296L), Seq[java.lang.Long](1L, 4294967296L)))
    for ((rows, name) <- Seq((mulRows, "multiply"), (addRows, "add"),
        (mulAfterNull, "multiply-behind-null"))) {
      val refOk = runs(rows, hof)
      val fastOk = runs(rows, "long_dot(a, b)")
      assert(!refOk, s"the ANSI HOF reference must throw on $name overflow")
      assert(fastOk == refOk, s"long_dot must throw exactly when the HOF throws ($name)")
    }
  }

  test("q_sim_quantized head is non-empty and exactly reproducible after the rewrite") {
    // end-to-end pin on the real fixture: the trio-backed query still
    // computes the same head twice in a row (determinism), with scores
    // in descending order — the oracle hash-match at all three SFs is
    // re-verified outside this suite
    val r1 = q("q_sim_quantized").collect()
    val r2 = q("q_sim_quantized").collect()
    assert(r1.nonEmpty, "fixture head must be non-empty")
    assert(r1.toSeq == r2.toSeq, "head must be bit-stable across runs")
    val scores = r1.map(_.getDouble(2))
    assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "scores must be non-increasing")
  }
}
