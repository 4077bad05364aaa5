package graft

import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** A local filesystem under a scheme that exists ONLY in the session's
  * Hadoop configuration — the discriminator for conf propagation: any
  * code path that rebuilds a bare `new Configuration()` instead of
  * carrying the session conf cannot resolve `graftfs://` and throws
  * "No FileSystem for scheme". Implemented as a path-translating
  * wrapper over RawLocalFileSystem (subclassing alone fails: its
  * permission loader builds java.io.File from the FULL URI and rejects
  * non-file schemes).
  */
class GraftTestFs extends org.apache.hadoop.fs.FileSystem {
  import java.net.URI
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  protected val local = new RawLocalFileSystem
  protected def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  /** Copy eagerly (getPermission forces the lazy permission load while
    * the path is still file://) then re-scheme the path. */
  private def fromLocal(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
      st.getGroup, new Path(getScheme, null, st.getPath.toUri.getPath))

  override def initialize(uri: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    local.initialize(URI.create("file:///"), conf)
  }
  override def getUri: URI = URI.create(s"$getScheme:///")
  override def getScheme: String = "graftfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(fromLocal)
  override def setWorkingDirectory(dir: Path): Unit =
    local.setWorkingDirectory(toLocal(dir))
  override def getWorkingDirectory: Path = new Path(s"$getScheme:/")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    fromLocal(local.getFileStatus(toLocal(f)))
}

/** Same wrapper under a second scheme, for the session-level
  * (spark.conf.set) registration test. */
class GraftTestFs2 extends GraftTestFs {
  override def getScheme: String = "graftfs2"
}

/** On a real cluster the filesystem needs session-configured settings
  * (S3 credentials/endpoints, HA nameservices) that a bare
  * `new Configuration()` silently drops — fine on file:// fixtures,
  * broken at deployment. These tests run the DSv2 row scan, the
  * aggregate scan the manifest cannot answer, and the DSv2 write entirely over
  * a scheme registered ONLY in the session conf, proving the conf
  * captured driver-side reaches every executor-side reader and writer.
  */
class SnapshotConfPropagationSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private lazy val root: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    // WITHOUT this the JVM-wide FileSystem cache defeats the test in
    // local mode: the driver resolves graftfs once with the session
    // conf and every later bare-Configuration lookup hits that cache
    // entry instead of consulting its own (scheme-less) conf. Disabling
    // the cache forces each getFileSystem call to prove ITS conf can
    // resolve the scheme — which is exactly the deployment behavior
    // (separate executor JVMs share no cache with the driver).
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl.disable.cache", "true")
    val dir = java.nio.file.Files.createTempDirectory("snap_graftfs")
    s"graftfs:$dir"
  }

  override def afterAll(): Unit = {
    SessionToken.deleteDir(root.stripPrefix("graftfs:"))
    super.afterAll()
  }

  test("DSv2 row scan reads through a session-conf-only filesystem scheme") {
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("nation" -> nation), root, "v1")
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v1").option("table", "nation").load()
    // a real row materialization, not a stats shortcut: group + sum
    assert(back.groupBy(col("n_regionkey")).count().count() == 5)
    assert(back.count() == nation.count())
  }

  test("footer-statistics aggregate scan carries the session conf") {
    val orders = Tables.orders(spark, sf).limit(1000)
    Snapshot.export(spark, Map("orders" -> orders), root, "v2")
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v2").option("table", "orders").load()
    // max of a string column is not answered from the manifest, so the
    // row scan must open graftfs:// files
    val agg = back.agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("lo"),
      max(col("o_orderkey")).as("hi"), max(col("o_orderstatus")).as("st"))
    assert(!answeredFromManifest(agg))
    val r = agg.collect().head
    val want = orders.agg(count(lit(1)), min(col("o_orderkey")),
      max(col("o_orderkey")), max(col("o_orderstatus"))).collect().head
    assert(r == want, s"footer agg over graftfs diverged: $r vs $want")
  }

  test("manifest IO honors SESSION-level conf (spark.conf.set), not just the context conf") {
    // the per-session settings pattern: spark.conf.set entries exist in
    // sessionState.newHadoopConf() but NOT in
    // sparkContext.hadoopConfiguration — manifest IO and the DSv2
    // commit path must read the former, or an executor-side write
    // succeeds and then dies at commit (orphaned data files)
    spark.conf.set("fs.graftfs2.impl", classOf[GraftTestFs2].getName)
    spark.conf.set("fs.graftfs2.impl.disable.cache", "true")
    val dir = java.nio.file.Files.createTempDirectory("snap_graftfs2")
    try {
      val root2 = s"graftfs2:$dir"
      val nation = Tables.nation(spark, sf)
      Snapshot.export(spark, Map("nation" -> nation), root2, "v1")
      // DSv2 append: executors write via the captured conf, commit()
      // re-reads and re-writes the manifest via Snapshot's conf
      nation.limit(2).write.format("graft.sources.SnapshotSource")
        .option("root", root2).option("tag", "v1").option("table", "nation")
        .mode("append").save()
      val back = spark.read.format("graft.sources.SnapshotSource")
        .option("root", root2).option("tag", "v1").option("table", "nation").load()
      assert(back.count() == nation.count() + 2)
    } finally SessionToken.deleteDir(dir.toString)
  }

  test("DSv2 write (executor parquet writers) carries the session conf") {
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("nation" -> nation), root, "v3")
    val exported = Snapshot.readManifest(spark, root, "v3").tables("nation").files.map(_.path).toSet
    // the session's parquet settings reach the sink's writers too
    spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
    try nation.limit(3).write.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v3").option("table", "nation")
      .mode("append").save()
    finally spark.conf.unset("spark.sql.parquet.compression.codec")
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "v3").option("table", "nation").load()
    assert(back.count() == nation.count() + 3)
    val appended = Snapshot.readManifest(spark, root, "v3").tables("nation").files
      .filterNot(f => exported(f.path))
    assert(appended.nonEmpty)
    // the writer's footer read-back resolved graftfs:// too: a failed
    // read would leave the file without stats
    assert(appended.forall(_.stats.contains("n_nationkey")), appended)
    val conf = spark.sessionState.newHadoopConf()
    appended.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.path), conf))
      val codecs = try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      } finally r.close()
      assert(codecs == Set("GZIP"), s"${f.path}: $codecs")
    }
  }
}
