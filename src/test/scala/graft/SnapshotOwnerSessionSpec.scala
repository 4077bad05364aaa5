package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{Snapshot, Tables}

/** Multi-session ownership (advice r9): a SnapshotTable loaded by
  * session A must build scans/writes with A's Hadoop conf even when
  * `SparkSession.active` on the build/commit thread is some OTHER
  * session B — DSv2 builder and commit callbacks run on Spark-internal
  * threads where the thread-local active session is not trustworthy.
  * Pre-fix (builders resolving SparkSession.active themselves) both
  * assertions below observed B's probe value.
  */
class SnapshotOwnerSessionSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("snap_owner").toString
    Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), r, "v1")
    r
  }

  override def afterAll(): Unit = {
    spark.conf.unset("graft.owner.probe")
    SessionToken.deleteDir(root)
    super.afterAll()
  }

  private def loadTable(): graft.sources.SnapshotTable = {
    import scala.jdk.CollectionConverters._
    val opts = new CaseInsensitiveStringMap(
      Map("root" -> root, "tag" -> "v1", "table" -> "nation").asJava)
    val provider = new graft.sources.SnapshotSource()
    val schema = provider.inferSchema(opts)
    provider.getTable(schema, Array.empty, opts.asCaseSensitiveMap())
      .asInstanceOf[graft.sources.SnapshotTable]
  }

  /** Run `body` with B (a sibling session carrying a different
    * per-session probe value) as the thread's active session. */
  private def withActiveB[T](body: => T): T = {
    val b = spark.newSession()
    b.conf.set("graft.owner.probe", "B")
    SparkSession.setActiveSession(b)
    try body finally SparkSession.setActiveSession(spark)
  }

  /** The Hadoop conf the scan's readers receive. */
  private def readerConf(scan: org.apache.spark.sql.connector.read.Scan) =
    scan.toBatch.createReaderFactory()
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory]
      .broadcastedConf.value.value

  test("scan built under a different active session carries the OWNER's conf") {
    spark.conf.set("graft.owner.probe", "A")
    val table = loadTable() // active session here: A (the owner)
    val probe = withActiveB {
      val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      readerConf(scan).get("graft.owner.probe")
    }
    assert(probe == "A", s"scan captured the wrong session's conf: $probe")
  }

  test("catalog loadTable captures the loading session as owner") {
    spark.conf.set("graft.owner.probe", "A")
    val cat = new graft.sources.SnapshotCatalog
    val opts = new CaseInsensitiveStringMap(
      java.util.Collections.singletonMap("root", root))
    cat.initialize("snapcat_owner", opts) // active session here: A
    val table = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("v1"), "nation"))
      .asInstanceOf[graft.sources.SnapshotTable]
    val probe = withActiveB {
      val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      readerConf(scan).get("graft.owner.probe")
    }
    assert(table.owner eq spark)
    assert(probe == "A", s"catalog-loaded table captured the wrong session's conf: $probe")
  }

  test("batch write built under a different active session carries the OWNER's conf and session") {
    spark.conf.set("graft.owner.probe", "A")
    val table = loadTable()
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "owner-spec"
      override def schema(): org.apache.spark.sql.types.StructType = table.schema()
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    }
    val (ownerIsA, probe) = withActiveB {
      val bw = table.newWriteBuilder(info).build().toBatch
        .asInstanceOf[graft.sources.SnapshotBatchWrite]
      (bw.owner eq spark, bw.writers.hconf.value.get("graft.owner.probe"))
    }
    assert(ownerIsA, "commit() would run against the wrong session")
    assert(probe == "A", s"write captured the wrong session's conf: $probe")
  }
}
