package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.Snapshot

/** Manifest schema evolution, both directions (r12 — motivated by the
  * `txns` ledger field added this round):
  *
  *  - BACKWARD: a manifest written before a field existed parses with
  *    the field's default (json4s fills case-class defaults), so old
  *    roots join new protocols on their next commit — `generation`
  *    proved this in r10, `txns` this round; the spec pins it for both.
  *  - FORWARD: a manifest written by a NEWER version carrying fields
  *    this build has never heard of still parses (json4s drops unknown
  *    JSON keys at every level), so mixed-version deployments degrade
  *    to ignoring the new metadata instead of failing to read
  *    committed data. Without this property every additive field would
  *    be a breaking change.
  */
class ManifestCompatSpec extends SparkSpec {

  test("BACKWARD: a pre-generation, pre-txns manifest parses with defaults (gen 0, empty ledger)") {
    val root = Files.createTempDirectory("mcompat_back").toString
    Files.createDirectories(Paths.get(root, "v1"))
    // hand-written legacy shape: no generation, no txns, no stats/dir/
    // partitionBy/schemaJson on the entry — the r3-era wire format
    Files.writeString(Paths.get(root, "v1", "manifest.json"),
      """{"tag":"v1","parent":null,"tables":{"t":{
        |"files":[{"path":"/nope/a.parquet","size":10}],
        |"rows":1,"signature":"1:abc"}}}""".stripMargin.replace("\n", ""))
    val m = Snapshot.readManifest(spark, root, "v1")
    assert(m.generation == 0L)
    val e = m.tables("t")
    assert(e.txns.isEmpty)
    assert(e.txnStamps.isEmpty) // r13 age-retention field: same default rule
    assert(e.files.head.stats.isEmpty && e.dir.isEmpty && e.partitionBy.isEmpty &&
      e.schemaJson.isEmpty)
    // and the OCC entry point treats it as generation 0, not -1
    assert(Snapshot.currentGeneration(spark, root, "v1") == 0L)
  }

  test("FORWARD: unknown fields at every level parse and the known data reads intact") {
    val root = Files.createTempDirectory("mcompat_fwd").toString
    Files.createDirectories(Paths.get(root, "v1"))
    Files.writeString(Paths.get(root, "v1", "manifest.json"),
      """{"tag":"v1","parent":null,"generation":4,
        |"formatVersion":9,"checksum":"deadbeef",
        |"tables":{"t":{
        |"files":[{"path":"/nope/a.parquet","size":10,
        |"blockHashes":["x","y"],"tier":"hot"}],
        |"rows":1,"signature":"1:abc",
        |"txns":{"app":3},
        |"clusteringColumns":["a","b"],"deletionVectors":{}}},
        |"snapshotProperties":{"owner":"x"}}""".stripMargin.replace("\n", ""))
    val m = Snapshot.readManifest(spark, root, "v1")
    assert(m.generation == 4L && m.tag == "v1")
    val e = m.tables("t")
    assert(e.rows == 1L && e.signature == "1:abc")
    assert(e.txns == Map("app" -> 3L),
      "known fields must survive surrounded by unknown ones")
    assert(e.files.head.path == "/nope/a.parquet" && e.files.head.size == 10L)
  }

  test("the txns ledger round-trips the writeManifest/readManifest wire format exactly") {
    val root = Files.createTempDirectory("mcompat_rt").toString
    val entry = Snapshot.TableEntry(
      Seq(Snapshot.FileEntry("/nope/a.parquet", 10,
        Map("k" -> Snapshot.ColumnStats(-5L, 42L)))),
      rows = 1L, signature = "1:abc",
      schemaJson = Some("""{"type":"struct","fields":[]}"""),
      txns = Map("app.with.dots" -> 9L, "b" -> Long.MaxValue))
    Snapshot.writeManifest(spark, root,
      Snapshot.Manifest("v1", Some("v0"), Map("t" -> entry), generation = 2L))
    val back = Snapshot.readManifest(spark, root, "v1").tables("t")
    assert(back == entry,
      "every field incl. dotted ledger keys and Long.MaxValue must round-trip")
  }

  test("BACKWARD: a manifest without per-file signatures parses and takes the whole-table path") {
    val root = Files.createTempDirectory("mcompat_filesig").toString
    val t = spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 11).as("v"))
    Snapshot.export(spark, Map("t" -> t), root, "v1")
    // rewrite v1 in the pre-signature wire format: an absent Option
    // field is omitted from the JSON, so no file carries "signature"
    val written = Snapshot.readManifest(spark, root, "v1")
    Snapshot.writeManifest(spark, root, written.copy(tables = written.tables.map {
      case (n, e) => n -> e.copy(files = e.files.map(_.copy(signature = None)))
    }))
    val raw = Files.readString(Paths.get(root, "v1", "manifest.json"))
    assert(raw.split("\"signature\"").length == 2,
      s"precondition: only the table-level signature is left: $raw")
    val v1 = Snapshot.readManifest(spark, root, "v1").tables("t")
    assert(v1.files.size == 3 && v1.files.forall(_.signature.isEmpty))
    // the table-level signature still matches: whole-table inheritance
    val same = Snapshot.export(spark, Map("t" -> t), root, "v2", Some("v1"))
    assert(same.tables("t").files == v1.files)
    // a grown table finds no per-file signature to match: every partition is written
    val grown = t.unionByName(spark.range(3000, 3100, 1, 1).select(col("id"), (col("id") % 11).as("v")))
    val m = Snapshot.export(spark, Map("t" -> grown), root, "v3", Some("v1"))
    assert(m.tables("t").files.size == 4 && m.tables("t").files.forall(_.path.contains("/v3/")))
    assert(Snapshot.read(spark, root, "v3", "t").count() == 3100)
  }
}
