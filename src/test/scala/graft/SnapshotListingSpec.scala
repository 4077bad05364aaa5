package graft

import java.nio.file.Files

import graft.sources.Snapshot

/** A local filesystem whose statuses count every permission, owner and
  * group read. Unlike [[GraftTestFs]] it never loads them itself: the
  * statuses are copied from RawLocalFileSystem's lazy ones with the
  * six-field constructor, so a count is a read made by the caller (or
  * by a `LocatedFileStatus` built from the status). Without native
  * Hadoop each such read of a local file forks a shell command.
  */
class GraftCountingFs extends GraftTestFs {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getScheme: String = "graftcount"
  private def counted(st: FileStatus): FileStatus =
    new GraftCountingFs.Status(st, new Path(getScheme, null, st.getPath.toUri.getPath))
  override def listStatus(f: Path): Array[FileStatus] = local.listStatus(toLocal(f)).map(counted)
  override def getFileStatus(f: Path): FileStatus = counted(local.getFileStatus(toLocal(f)))
}

object GraftCountingFs {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission

  val reads = new java.util.concurrent.atomic.AtomicLong(0)

  class Status(st: FileStatus, p: Path) extends FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime, p) {
    override def getPermission: FsPermission = { reads.incrementAndGet(); super.getPermission }
    override def getOwner: String = { reads.incrementAndGet(); super.getOwner }
    override def getGroup: String = { reads.incrementAndGet(); super.getGroup }
  }
}

/** Snapshot's storage listing: no permission load per listed file, and
  * the maintenance calls on a root that does not exist yet.
  */
class SnapshotListingSpec extends SparkSpec {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.functions.col

  test("export and vacuum read no file's permission, owner or group") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftcount.impl", classOf[GraftCountingFs].getName)
    conf.set("fs.graftcount.impl.disable.cache", "true")
    val root = s"graftcount:${Files.createTempDirectory("snap_count")}"
    def table(n: Long) = spark.range(0, n, 1, 4).select(col("id"), (col("id") * 3).as("v"))
    GraftCountingFs.reads.set(0)
    Snapshot.export(spark, Map("a" -> table(4000), "b" -> table(100)), root, "t1")
    Snapshot.export(spark, Map("a" -> table(4400), "b" -> table(100)), root, "t2", Some("t1"))
    // an unreferenced generation for the sweep to find
    val orphan = new Path(s"$root/t2/a/g-orphan/part-0.parquet")
    val f = orphan.getFileSystem(conf)
    f.mkdirs(orphan.getParent)
    f.create(orphan, false).close()
    val swept = Snapshot.vacuum(spark, root)
    assert(swept.size == 1 && swept.head.endsWith("g-orphan/part-0.parquet"), swept)
    assert(GraftCountingFs.reads.get == 0,
      s"${GraftCountingFs.reads.get} permission/owner/group reads during export + vacuum")
    // the counter works: listFiles wraps every file in a LocatedFileStatus,
    // whose constructor reads all three
    val it = f.listFiles(new Path(root), true)
    var files = 0
    while (it.hasNext) { it.next(); files += 1 }
    assert(files > 0 && GraftCountingFs.reads.get >= files,
      s"${GraftCountingFs.reads.get} reads for $files listed files")
  }

  test("listTags, retain and vacuum on a root that does not exist return empty") {
    val root = s"${Files.createTempDirectory("snap_missing")}/not-yet"
    assert(Snapshot.listTags(spark, root).isEmpty)
    assert(Snapshot.retain(spark, root, 1).isEmpty)
    assert(Snapshot.vacuum(spark, root).isEmpty)
    assert(Snapshot.vacuum(spark, root, graceMillis = 5000L).isEmpty)
    assert(!new java.io.File(root).exists, "maintenance must not create the root")
  }
}
