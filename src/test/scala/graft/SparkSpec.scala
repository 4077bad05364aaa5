package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Snapshot

/** Shared session base for all specs: one local session per suite,
  * harness-shaped config (UTC, small shuffle partitions, UI off), with
  * GraftExtensions loaded as GraftSession loads it.
  */
trait SparkSpec extends AnyFunSuite {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** `body`'s result and the Spark jobs it ran, counted by a SparkListener. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A read-only DSv2 table over `entry`, built as every snapshot read
    * builds one.
    */
  def snapshotTable(entry: Snapshot.TableEntry): graft.sources.SnapshotTable =
    graft.sources.SnapshotTable.of("", "", "t", Some(entry), writable = false, spark)

  /** Whether `df`'s aggregate is answered from the snapshot manifest:
    * its optimized plan scans a `SnapshotAggScan`, and its physical plan
    * runs no batch scan.
    */
  def answeredFromManifest(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
    val local = df.queryExecution.optimizedPlan.exists {
      case r: DataSourceV2ScanRelation => r.scan.isInstanceOf[graft.sources.SnapshotAggScan]
      case _ => false
    }
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    local && scans.isEmpty
  }

  /** The distinct files `batch` plans input splits over. */
  def plannedFiles(batch: org.apache.spark.sql.connector.read.Batch): Seq[String] =
    batch.planInputPartitions().toSeq.flatMap(
      _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition].files.map(_.filePath.toString))
      .distinct

  /** Adds `df` as `table` to snapshot `tag` (creating the tag when it
    * has no manifest) the way export wrote hive-partitioned tables
    * before it stopped: `DataFrameWriter.partitionBy(cols)` into a fresh
    * `g-` generation dir, and an entry with `dir`, `partitionBy`,
    * `schemaJson`, the file list and a signature with no content term.
    * Returns the committed manifest.
    */
  def legacyPartitioned(root: String, tag: String, table: String, df: DataFrame,
                        cols: Seq[String]): Snapshot.Manifest = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val dir = fs.makeQualified(
      new Path(s"$root/$tag/$table/g-${java.util.UUID.randomUUID().toString.take(8)}")).toString
    df.write.mode("error").partitionBy(cols: _*).parquet(dir)
    val listing = fs.listFiles(new Path(dir), true)
    val files = Seq.newBuilder[Snapshot.FileEntry]
    while (listing.hasNext) {
      val st = listing.next()
      if (st.getPath.getName.endsWith(".parquet")) files += Snapshot.FileEntry(st.getPath.toString, st.getLen)
    }
    val rows = df.count()
    val entry = Snapshot.TableEntry(files.result().sortBy(_.path), rows,
      s"$rows:${df.schema.catalogString.hashCode}", dir = Some(dir), partitionBy = cols,
      schemaJson = Some(df.schema.json))
    val prior = try Some(Snapshot.readManifest(spark, root, tag))
                catch { case _: java.io.FileNotFoundException => None }
    val m = prior.fold(Snapshot.Manifest(tag, None, Map(table -> entry)))(p =>
      p.copy(tables = p.tables + (table -> entry), generation = p.generation + 1))
    Snapshot.writeManifest(spark, root, m)
    m
  }
}
