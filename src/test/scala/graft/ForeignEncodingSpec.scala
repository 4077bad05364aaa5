package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** Decode-envelope probe: the DSv2 scan reads through Spark's own
  * parquet reader, so page/encoding variants are its column readers'
  * problem, not ours — but a "foreign" writer configuration
  * (PARQUET_2_0 writer with DELTA_BINARY_PACKED/DELTA_BYTE_ARRAY pages,
  * dictionary-heavy v1 pages, many small row groups) is exactly what
  * lands when another team's Spark job with different parquet conf
  * feeds a snapshot root, and the snapshot scan plans its own splits.
  * Each probe compares the snapshot scan's rows (a full scan AND a
  * filtered, pruned read) against a plain `spark.read.parquet` of the
  * SAME file.
  */
class ForeignEncodingSpec extends SparkSpec {

  /** Build a one-table manifest over exactly `dir`'s part files. */
  private def manifest(root: String, dir: String,
                       schema: org.apache.spark.sql.types.StructType): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => Snapshot.FileEntry(st.getPath.toString, st.getLen))
      .sortBy(_.path).toSeq
    assert(files.nonEmpty)
    Snapshot.writeManifest(spark, root, Snapshot.Manifest("v1", None,
      Map("t" -> Snapshot.TableEntry(files, -1L, "probe",
        schemaJson = Some(schema.json)))))
  }

  /** The footer of the one parquet file in `dir`. */
  private def footer(dir: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val conf = spark.sessionState.newHadoopConf()
    val file = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      .listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  private def dsv2(root: String) =
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v1").option("table", "t").load()

  /** Returns the data directory the probe wrote. */
  private def probe(writerOpts: Map[String, String], label: String): String = {
    // The projection deliberately includes a decimal(12,2) and a DATE:
    // the fixture's orders carries neither (totalprice is double,
    // orderdate is timestamp), and the r13 mutation-smoke proved the
    // original all-long/double/string/timestamp projection let decode
    // mutants in the DecimalType and DateType branches survive — yet
    // INT64-backed decimals and INT32 dates are exactly the columns a
    // PARQUET_2_0 foreign writer puts through DELTA_BINARY_PACKED.
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(12,2)").as("o_price_dec"),
        col("o_orderdate").cast("date").as("o_date"))
    val dir = Files.createTempDirectory(s"enc_$label").toString + "/data"
    writerOpts.foldLeft(src.coalesce(1).write)((w, kv) => w.option(kv._1, kv._2))
      .parquet(dir)
    val root = Files.createTempDirectory(s"encroot_$label").toString
    manifest(root, dir, src.schema)
    val native = spark.read.parquet(dir)
    // full-scan value equality against Spark's own reader
    assert(dsv2(root).exceptAll(native).count() == 0 &&
      native.exceptAll(dsv2(root)).count() == 0,
      s"$label: the snapshot scan diverges from spark.read.parquet on a full scan")
    // pushdown path: a selective filter + pruned projection decodes the
    // same rows (row-group/page filters run inside parquet-mr here)
    val f = dsv2(root).where(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val nf = native.where(col("o_orderkey") < 500)
      .select(col("o_orderkey"), col("o_orderstatus"))
    assert(f.exceptAll(nf).count() == 0 && nf.exceptAll(f).count() == 0,
      s"$label: filtered/pruned read diverges")
    dir
  }

  test("PARQUET_2_0 pages (DELTA_* encodings) decode identically to Spark's reader") {
    probe(Map("parquet.writer.version" -> "PARQUET_2_0"), "v2")
  }

  test("dictionary-heavy v1 pages (tiny dictionary page size forces fallback mid-column) decode identically") {
    probe(Map("parquet.enable.dictionary" -> "true",
      "parquet.dictionary.page.size" -> "1024"), "dict")
  }

  test("many small row groups per file all come back (whole-file splits drop none)") {
    // a split covering less than the whole file silently drops the row
    // groups whose midpoint falls outside it — the full-scan equality
    // in probe() counts every row of a file cut into many row groups
    val rowGroups = footer(probe(Map("parquet.block.size" -> "4096"), "rowgroups")).getBlocks.size
    assert(rowGroups > 4, s"the probe file must hold many row groups, got $rowGroups")
  }

  test("footer aggregates over a file written without column statistics fall back to a row scan") {
    val src = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
    val dir = Files.createTempDirectory("enc_nostats").toString + "/data"
    src.coalesce(1).write.option("parquet.column.statistics.enabled", "false").parquet(dir)
    val root = Files.createTempDirectory("encroot_nostats").toString
    manifest(root, dir, src.schema)
    // precondition: the footer really carries no min/max for the columns
    val chunks = footer(dir).getBlocks.get(0).getColumns
    assert(chunks.size == 2 && chunks.stream.noneMatch(c =>
      c.getStatistics != null && c.getStatistics.hasNonNullValue),
      "the probe file must carry no column min/max")
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), min(col("o_orderkey")), max(col("o_custkey")))
    val agg = aggOf(dsv2(root))
    // the foreign manifest carries no signed counts and no stats: refused
    assert(!answeredFromManifest(agg))
    assert(agg.collect().toSeq == aggOf(src).collect().toSeq)
  }
}
