package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, SnapshotScan, Tables}

/** Columns whose NAME literally contains a dot — parquet's column-path
  * delimiter — are the classic silent-wrong-results trap in filter and
  * aggregate pushdown (a translation that splits `a.b` on the dot
  * resolves it as nested path a→b, a missing column = all-null or the
  * wrong column's values, and row-group or record-level filtering then
  * drops matching rows BEFORE the residual filter could restore them).
  *
  * This spec pins the two safety properties the snapshot DSv2 source
  * relies on:
  *
  *  1. FILTERS: every filter reaches the scan, and Spark backtick-
  *     quotes a flat dotted name in translated source filters. Spark's
  *     own `ParquetFilters` keys its column map on those quoted names,
  *     so the quoted `a.b` resolves to the flat column's one-element
  *     path, never to the nested chunk a→b; the manifest pruner finds
  *     no stats under the quoted name and skips nothing. This spec
  *     proves the exact row set comes back and that the filters arrive
  *     quoted, and that an out-of-range value on the flat column
  *     skips the row group where the decoy's range would not.
  *
  *  2. AGGREGATES: the manifest keys column stats by dotted path, so
  *     the flat column "a.b" and the nested chunk a.b (struct a, field
  *     b) share one key, whose bounds mix both. min/max of "a.b" must
  *     therefore be refused by the manifest answer and come from the
  *     row scan — serving the key would silently mix in the WRONG
  *     column's values.
  */
class DottedColumnProbeSpec extends SparkSpec {

  /** nation-derived fixture: a struct `a{b}` whose values are offset
    * by +100 from the flat column literally named "a.b" — any
    * chunk-shadowing bug yields a visibly wrong min/max.
    */
  private lazy val root: String = {
    val r = Files.createTempDirectory("snap_dotted").toString
    val src = fixture
    src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "dotted")
      .option("schema", src.schema.json).mode("append").save()
    r
  }

  private def fixture =
    Tables.nation(spark, sf).select(
      col("n_nationkey").as("id"),
      // struct FIRST in schema order: its chunk path ["a","b"] has
      // dot-string "a.b" and precedes the flat column's ["a.b"] in the
      // footer — exactly the shadowing position
      struct((col("n_regionkey") + 100).cast("int").as("b")).as("a"),
      col("n_regionkey").cast("int").as("a.b"))

  private def readBack =
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "g1").option("table", "dotted").load()

  private def snapshotScan(df: org.apache.spark.sql.DataFrame): SnapshotScan =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case s: SnapshotScan => s }.getOrElse(
      fail("expected a GraftSnapshotScan in the plan"))

  test("flat column named 'a.b' round-trips and filters correctly — quoted filter reaches the scan") {
    val back = readBack
    assert(back.schema.fieldNames.toSeq == Seq("id", "a", "a.b"))
    val got = back.where(col("`a.b`") === 2)
    val expect = fixture.where(col("`a.b`") === 2)
    assert(expect.count() > 0, "fixture must exercise the filter")
    assert(got.count() == expect.count(),
      "a filter on a dotted flat column must not lose rows")
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
    // the scan carries the filters under the QUOTED name (both the
    // EqualTo and the implicit IsNotNull), never the bare path a.b
    import org.apache.spark.sql.sources.{EqualTo, IsNotNull}
    val pushed = snapshotScan(got).filters.toSet
    assert(pushed == Set(EqualTo("`a.b`", 2), IsNotNull("`a.b`")),
      s"dotted-name filters must arrive quoted, got ${pushed.toSeq}")
    // Spark's ParquetFilters resolves the quoted name to the FLAT chunk:
    // 102 lies outside its 0..4 but inside the struct decoy's 100..104,
    // so only the flat chunk's row-group stats drop every row
    val miss = back.where(col("`a.b`") === 102)
    assert(miss.collect().isEmpty)
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(miss.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.map(_.metrics("numOutputRows").value) == Seq(0L),
      "the flat column's row-group stats must skip the file's rows")
  }

  test("positive control: the same filter shape on an undotted column IS pushed") {
    val got = readBack.where(col("id") === 2)
    assert(snapshotScan(got).filters.nonEmpty,
      "undotted int filter must push — otherwise assertion 1 tests nothing")
    assert(got.count() == 1)
  }

  test("footer min/max of 'a.b' matches chunks by exact path, not dot-string") {
    val back = readBack
    val agg = back.agg(min(col("`a.b`")).as("mn"), max(col("`a.b`")).as("mx"))
    // the manifest's "a.b" key is ambiguous: the answer must be refused
    assert(!answeredFromManifest(agg),
      "min/max of a column whose stats key a nested leaf shares must not be answered")
    // positive control: the undotted int column is answered
    assert(answeredFromManifest(back.agg(min(col("id")), max(col("id")))))
    val row = agg.collect().head
    val direct = fixture.agg(min(col("`a.b`")), max(col("`a.b`"))).collect().head
    assert(row.getInt(0) == direct.getInt(0) && row.getInt(1) == direct.getInt(1),
      s"stats served the wrong chunk: got (${row.getInt(0)}, ${row.getInt(1)}), " +
        s"want (${direct.getInt(0)}, ${direct.getInt(1)}) — the struct a.b decoy is +100")
    // the decoy would have surfaced as min >= 100
    assert(row.getInt(0) < 100, "min came from the struct chunk — dot-string shadowing")
  }
}
