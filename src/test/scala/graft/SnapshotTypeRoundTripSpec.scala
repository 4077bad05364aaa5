package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Snapshot

/** Every column type `Snapshot.export` writes must read back through
  * the DSv2 source exactly as `Snapshot.read` serves it: short, byte
  * and the three decimal widths (INT32, INT64 and FIXED_LEN_BYTE_ARRAY
  * storage), both timestamp flavours, binary, and a map of arrays of
  * structs with a null at every nesting level. The snapshot root's name
  * holds a space and a `%`, which a reader that parses manifest paths
  * as URLs misreads.
  */
class SnapshotTypeRoundTripSpec extends SparkSpec {

  private val inner = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", ShortType),
    StructField("b", ByteType),
    StructField("d9", DecimalType(9, 2)),
    StructField("d18", DecimalType(18, 4)),
    StructField("d38", DecimalType(38, 10)),
    StructField("ntz", TimestampNTZType),
    StructField("ts", TimestampType),
    StructField("bin", BinaryType),
    StructField("m", MapType(StringType, ArrayType(inner)))))

  private def dec(v: String) = new java.math.BigDecimal(v)

  private val rows = Seq(
    Row(1, 7.toShort, 3.toByte, dec("1234567.89"), dec("12345678901234.5678"),
      dec("1234567890123456789012345678.0123456789"),
      java.time.LocalDateTime.of(2024, 2, 29, 23, 59, 59, 123456000),
      java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"), Array[Byte](0, 1, 2),
      // a null array element, a struct of nulls, a null map value, an empty array
      Map("k" -> Seq(Row(1L, "a"), null, Row(null, null)), "n" -> null, "e" -> Seq())),
    Row(2, Short.MinValue, Byte.MinValue, dec("-9999999.99"), dec("-99999999999999.9999"),
      dec("-9999999999999999999999999999.9999999999"),
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0),
      java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), Array.emptyByteArray, Map.empty),
    Row(3, Short.MaxValue, Byte.MaxValue, dec("0.01"), dec("0.0001"), dec("0.0000000001"),
      java.time.LocalDateTime.of(2262, 4, 11, 23, 47, 16),
      java.sql.Timestamp.valueOf("2262-04-11 23:47:16"), Array[Byte](-1),
      Map("k" -> Seq(Row(Long.MinValue, "")))),
    // null in every top-level column
    Row(4, null, null, null, null, null, null, null, null, null))

  /** Maps take no part in set operations; their entries, in the files'
    * order, do. */
  private def comparable(df: DataFrame): DataFrame = df.withColumn("m", map_entries(col("m")))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    comparable(a).exceptAll(comparable(b)).isEmpty && comparable(b).exceptAll(comparable(a)).isEmpty

  test("every exported column type reads back value-exact through the DSv2 source") {
    val root = Files.createTempDirectory("snap_types").resolve("snap root 100%").toString
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Snapshot.export(spark, Map("t" -> src), root, "v1")
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v1").option("table", "t").load()
    val v1 = Snapshot.read(spark, root, "v1", "t")
    assert(v2.schema.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType))
    assert(v2.count() == rows.size && v1.count() == rows.size)
    assert(sameRows(v2, v1), "the DSv2 read and Snapshot.read disagree")
    assert(sameRows(v2, src), "the DSv2 read differs from the exported rows")
    // a pruned, filtered read through the same reader
    assert(v2.where(col("s") < 0).select("id", "d38").collect().toSeq ==
      Seq(Row(2, dec("-9999999999999999999999999999.9999999999"))))
  }

  test("every exported column type appends through the DSv2 sink, encoded as export encodes it") {
    val root = Files.createTempDirectory("snap_types_append").resolve("snap root 100%").toString
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Snapshot.export(spark, Map("t" -> src), root, "v1")
    val exported = Snapshot.readManifest(spark, root, "v1").tables("t").files.map(_.path).toSet
    src.write.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v1").option("table", "t").mode("append").save()
    val files = Snapshot.readManifest(spark, root, "v1").tables("t").files.map(_.path)
    val appended = files.filterNot(exported)
    assert(appended.nonEmpty, "the append must add files to the entry")
    val twice = src.union(src)
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v1").option("table", "t").load()
    val v1 = Snapshot.read(spark, root, "v1", "t")
    assert(v2.count() == 2 * rows.size && v1.count() == 2 * rows.size)
    assert(sameRows(v2, twice), "the DSv2 read of export + append differs from the rows twice")
    assert(sameRows(v1, twice), "Snapshot.read of export + append differs from the rows twice")
    // the sink's parquet schema is the one export writes
    def footerSchema(p: String) = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val want = footerSchema(exported.head)
    appended.foreach(p => assert(footerSchema(p) == want, s"$p: ${footerSchema(p)} vs $want"))
  }
}
