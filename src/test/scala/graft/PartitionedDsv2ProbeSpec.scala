package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** A hive-partitioned snapshot entry must be REJECTED at load time by
  * both DSv2 entry points: its partition values are directory-encoded
  * and absent from the parquet files, so the DSv2 row reader fails
  * mid-scan on the partition column with an executor-side
  * InvalidRecordException (probed on the pre-guard code) — and worse,
  * a column-pruned read that never touches the partition column
  * silently serves a partial view, while a DSv2 append would link
  * flat files into the partitioned layout. [[Snapshot.read]] is the
  * partitioned path (partition-dir decoding + pruning, SnapshotSpec).
  * Export no longer writes hive layouts, so the entries here are the
  * legacy ones [[SparkSpec.legacyPartitioned]] writes.
  */
class PartitionedDsv2ProbeSpec extends SparkSpec {

  private def exportPartitioned(): String = {
    val root = Files.createTempDirectory("snap_part_dsv2").toString
    legacyPartitioned(root, "pt", "nation", Tables.nation(spark, sf), Seq("n_regionkey"))
    root
  }

  test("DataFrameReader DSv2 load of a partitioned entry fails loudly at LOAD, not mid-scan") {
    val root = exportPartitioned()
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", "pt").option("table", "nation").load()
    }
    assert(e.getMessage.contains("hive-partitioned") && e.getMessage.contains("Snapshot.read"),
      e.getMessage)
  }

  test("catalog loadTable of a partitioned entry fails loudly, flat sibling still serves") {
    val root = Files.createTempDirectory("snap_part_dsv2").toString
    // a flat table and a partitioned one under the same tag
    Snapshot.export(spark, Map("region" -> Tables.region(spark, sf)), root, "pt")
    legacyPartitioned(root, "pt", "nation", Tables.nation(spark, sf), Seq("n_regionkey"))
    spark.conf.set("spark.sql.catalog.snapx", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapx.root", root)
    try {
      val e = intercept[UnsupportedOperationException] {
        spark.sql("SELECT * FROM snapx.pt.nation").collect()
      }
      assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
      // the flat table in the same manifest is unaffected
      assert(spark.sql("SELECT * FROM snapx.pt.region").count() ==
        Tables.region(spark, sf).count())
    } finally {
      spark.conf.unset("spark.sql.catalog.snapx")
      spark.conf.unset("spark.sql.catalog.snapx.root")
    }
  }

  test("the partitioned path itself still round-trips through Snapshot.read") {
    val root = exportPartitioned()
    assert(Snapshot.read(spark, root, "pt", "nation").count() ==
      Tables.nation(spark, sf).count())
  }

  // ── WRITE-side asymmetry probes (VERDICT r13 item 6): a partitioned
  // write attempt must be as loud as the partitioned read rejections
  // above — never a silently-flat table.

  test("DSv2 APPEND into an existing partitioned entry fails loudly at load, entry untouched") {
    val root = exportPartitioned()
    val before = Snapshot.read(spark, root, "pt", "nation").count()
    val extra = Tables.nation(spark, sf).limit(1)
    val e = intercept[Exception] {
      extra.write.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", "pt").option("table", "nation")
        .option("schema", extra.schema.json)
        .mode("append").save()
    }
    assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
    // nothing was linked into the partitioned layout
    assert(Snapshot.read(spark, root, "pt", "nation").count() == before)
  }

  test("writer-side partitionBy on the DSv2 format fails loudly, never a silently-flat write") {
    val root = Files.createTempDirectory("snap_part_w").toString
    val df = Tables.nation(spark, sf)
    val e = intercept[Exception] {
      df.write.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", "pw").option("table", "nation")
        .option("schema", df.schema.json)
        .partitionBy("n_regionkey")
        .mode("overwrite").save()
    }
    // probed: Spark's DSv2 writer compares the requested partitioning
    // against SnapshotTable.partitioning() (empty — the source is
    // flat-only by design) and rejects the mismatch before any write
    assert(e.getMessage.contains("partitioning") || e.getMessage.contains("clustering"),
      s"${e.getClass.getName}: ${e.getMessage}")
    // and no flat table materialized behind the failure
    assert(intercept[Exception] {
      Snapshot.read(spark, root, "pw", "nation").count()
    } != null)
  }
}
