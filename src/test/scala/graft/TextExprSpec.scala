package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Equivalence pin for `in_count` (functions/TextExpressions.scala):
  * bit-identical to `size(filter(toks, t -> t IN (list...)))` on
  * hostile inputs — null arrays, null tokens, empty tokens, unicode,
  * near-miss tokens — in BOTH execution modes (the VectorExprSpec /
  * QuantExprSpec discipline).
  */
class TextExprSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("toks", ArrayType(StringType, containsNull = true), nullable = true)))

  /** CODEGEN_ONLY, so a generated-code compile failure THROWS instead of
    * silently falling back to the interpreted path (the QuantExprSpec
    * helper's rationale).
    */
  private def withForcedCodegen[T](body: => T): T = {
    val prior = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally spark.conf.set("spark.sql.codegen.factoryMode", prior)
  }

  private val stop = Seq("the", "a", "of", "to", "and", "in", "is")
  private val stopSql = stop.map(w => s"'$w'").mkString("(", ", ", ")")

  private def rows: Seq[Row] = {
    val rng = new scala.util.Random(20260904L)
    val vocab = stop ++ Seq("ocean", "ore", "theta", "IN", "The", "a ", " a", "", "ß", "naïve",
      "\u0000the", "the\u0000")
    val random = (0 until 200).map { i =>
      val n = rng.nextInt(15)
      val toks = Seq.fill(n) {
        if (rng.nextInt(10) == 0) null.asInstanceOf[String]
        else vocab(rng.nextInt(vocab.length))
      }
      Row(i, toks)
    }
    val edges = Seq(
      Row(1000, Seq.empty[String]),                        // 0, not NULL
      Row(1001, null),                                     // null array -> NULL
      Row(1002, Seq[String](null, null)),                  // all-null -> 0
      Row(1003, Seq[String]("the", "the", "the")),         // duplicates COUNT (array_intersect would dedup)
      Row(1004, Seq[String]("THE", "The", "the")),         // case-sensitive: only 1
      Row(1005, Seq[String]("naïve", "ß", "is")))          // unicode neighbors, 1 hit
    random ++ edges
  }

  private def both(): Map[Int, (Option[Int], Option[Int])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    val stopArr = "array" + stopSql
    val out = df.select(col("id"),
      expr(s"in_count(toks, $stopArr)").as("fast"),
      expr(s"size(filter(toks, t -> t IN $stopSql))").as("ref"))
      .collect()
    out.map { r =>
      def v(i: Int): Option[Int] = if (r.isNullAt(i)) None else Some(r.getInt(i))
      r.getInt(0) -> (v(1), v(2))
    }.toMap
  }

  test("in_count == size(filter(IN)) on adversarial inputs (codegen path)") {
    val m = withForcedCodegen(both())
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"in_count diverged from the HOF reference: $bad")
    assert(m(1000) == (Some(0), Some(0)), "empty array must count 0, not NULL")
    assert(m(1001)._1.isEmpty, "null array must yield NULL (non-legacy sizeOfNull)")
    assert(m(1002)._1.contains(0), "null tokens never count")
    assert(m(1003)._1.contains(3), "duplicate hits must each count")
    assert(m(1004)._1.contains(1), "comparison must be case-sensitive binary equality")
  }

  test("in_count == HOF reference with codegen disabled (interpreted eval path)") {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val bad = both().collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted in_count diverged: $bad")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  // ---- fp_hash -----------------------------------------------------

  private def fpRows: Seq[Row] = {
    val rng = new scala.util.Random(20260905L)
    val vocab = Seq("the", "ocean", "", "a", "x1", "naïve", "ß", "€uro", "𝄞y", // 𝄞y
      "日本語", "longtokenlongtoken")
    val random = (0 until 200).map { i =>
      val n = rng.nextInt(12)
      val toks = Seq.fill(n) {
        if (rng.nextInt(12) == 0) null.asInstanceOf[String]
        else vocab(rng.nextInt(vocab.length))
      }
      Row(i, toks)
    }
    val edges = Seq(
      Row(1000, Seq.empty[String]),             // fold zero -> 0, not NULL
      Row(1001, null),                          // null array -> NULL
      Row(1002, Seq[String]("the", null, "x")), // null token poisons -> NULL
      Row(1003, Seq[String]("the", "", "x")),   // ascii('') = 0, length 0
      Row(1004, Seq[String]("𝄞y")))  // supplementary code point
    random ++ edges
  }

  private val fpHof =
    "aggregate(transform(toks, t -> CAST(ascii(t) * 256 + length(t) AS BIGINT)), " +
      "CAST(0 AS BIGINT), (a, b) -> (a * 131 + b) % 1000000007)"

  private def fpBoth(): Map[Int, (Option[Long], Option[Long])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(fpRows).asJava),
      schema)
    val out = df.select(col("id"),
      expr("fp_hash(toks)").as("fast"), expr(fpHof).as("ref")).collect()
    out.map { r =>
      def v(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      r.getInt(0) -> (v(1), v(2))
    }.toMap
  }

  test("fp_hash == the ascii/length rolling-hash HOF on adversarial inputs (codegen path)") {
    val m = withForcedCodegen(fpBoth())
    val bad = m.collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
    assert(bad.isEmpty, s"fp_hash diverged from the HOF reference: $bad")
    assert(m(1000) == (Some(0L), Some(0L)), "empty array must hash to the fold zero, not NULL")
    assert(m(1001)._1.isEmpty && m(1002)._1.isEmpty,
      "null array and null token must both yield NULL")
    // the unicode branch the ASCII-only fixture can never reach through
    // the oracle: supplementary-plane first char = full code point
    assert(m(1004)._1.contains(((0x1D11EL * 256L + 2L) % 1000000007L)),
      "supplementary first char must contribute its full code point and code-point length")
    // empirically pinned reference value (probed against Spark SQL directly)
    val probe = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        Seq(Row(0, Seq("the", "", "x")))).asJava), schema)
      .select(expr("fp_hash(toks)")).collect()(0).getLong(0)
    assert(probe == 509695260L, s"('the','','x') must hash to the probed 509695260, got $probe")
  }

  test("fp_hash == HOF reference with codegen disabled (interpreted eval path)") {
    val prior = (spark.conf.get("spark.sql.codegen.wholeStage", "true"),
      spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK"))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val bad = fpBoth().collect { case (id, (f, ref)) if f != ref => (id, f, ref) }
      assert(bad.isEmpty, s"interpreted fp_hash diverged: $bad")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prior._1)
      spark.conf.set("spark.sql.codegen.factoryMode", prior._2)
    }
  }

  test("in_count rejects a non-foldable list at analysis time, loudly") {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(
        Seq(Row(0, Seq("x")))).asJava),
      schema)
    val e = intercept[Exception] {
      df.select(expr("in_count(toks, toks)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable"),
      s"analysis error must name the foldable-list requirement, got: ${e.getMessage.take(200)}")
  }
}
