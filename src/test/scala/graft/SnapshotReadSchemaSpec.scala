package graft

import java.nio.file.Files

import graft.sources.{Snapshot, Tables}

/** `Snapshot.read` takes the table's schema from the manifest and its
  * files from the manifest's list, so building the DataFrame runs no
  * Spark job: no schema inference and no file listing, whatever the
  * file count. Entries that predate the manifest's `schemaJson` take the
  * first file's footer schema, read on the driver.
  */
class SnapshotReadSchemaSpec extends SparkSpec {

  test("constructing Snapshot.read and readAsOf runs no Spark job") {
    val root = Files.createTempDirectory("snap_read_jobs").toString
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("nation" -> nation), root, "2024-01-01T00:00:00Z")
    val (df, jobs) = withJobCount(Snapshot.read(spark, root, "2024-01-01T00:00:00Z", "nation"))
    assert(jobs == 0)
    assert(df.schema == nation.schema)
    assert(withJobCount(Snapshot.readAsOf(spark, root, "2024-06-01T00:00:00Z", "nation"))._2 == 0)
    assert(df.count() == nation.count())
  }

  test("building a read of a 40-file entry runs no Spark job (no file listing)") {
    val root = Files.createTempDirectory("snap_read_40").toString
    Snapshot.export(spark, Map("t" -> spark.range(0, 4000, 1, 40).toDF("id")), root, "v1")
    assert(Snapshot.readManifest(spark, root, "v1").tables("t").files.size == 40)
    val (df, jobs) = withJobCount(Snapshot.read(spark, root, "v1", "t"))
    assert(jobs == 0, s"$jobs jobs to build the read")
    assert(df.count() == 4000)
  }

  test("a partitioned entry reads with its manifest schema in the inferred column order") {
    val root = Files.createTempDirectory("snap_read_part").toString
    val nation = Tables.nation(spark, sf)
    val m = legacyPartitioned(root, "pt", "nation", nation, Seq("n_regionkey"))
    val entry = m.tables("nation")
    val (df, jobs) = withJobCount(Snapshot.read(spark, root, "pt", "nation"))
    assert(jobs == 0)
    val inferred = spark.read.option("basePath", entry.dir.get)
      .parquet(entry.files.map(_.path): _*)
    assert(df.schema.fieldNames.toSeq == inferred.schema.fieldNames.toSeq)
    // the partition column keeps its exported type instead of an inferred one
    assert(df.schema("n_regionkey").dataType == nation.schema("n_regionkey").dataType)
    assert(df.exceptAll(nation.select(df.columns.map(org.apache.spark.sql.functions.col): _*))
      .isEmpty)
  }

  test("an entry without schemaJson still reads, by inference") {
    val root = Files.createTempDirectory("snap_read_legacy").toString
    val nation = Tables.nation(spark, sf)
    val m = Snapshot.export(spark, Map("nation" -> nation), root, "v1")
    Snapshot.writeManifest(spark, root, m.copy(tag = "legacy", parent = None, generation = 0L,
      tables = m.tables.map { case (k, e) => k -> e.copy(schemaJson = None) }))
    val (df, jobs) = withJobCount(Snapshot.read(spark, root, "legacy", "nation"))
    assert(jobs == 0)
    assert(df.schema.fieldNames.toSeq == nation.schema.fieldNames.toSeq)
    assert(df.count() == nation.count())
    // the DSv2 options path reads it the same way
    val (v2, v2Jobs) = withJobCount(spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "legacy").option("table", "nation").load())
    assert(v2Jobs == 0)
    assert(v2.schema == df.schema)
    assert(v2.exceptAll(nation).isEmpty && nation.exceptAll(v2).isEmpty)
  }
}
