package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Snapshot

/** DSv2 runtime filtering on the snapshot scan (VERDICT r10 item 3):
  * manifest min/max pruning previously reacted only to STATIC
  * predicates; with SupportsRuntimeFiltering a selective broadcast-join
  * dimension now prunes snapshot files at execution time — the
  * snapshot-source twin of what q_scan_dpp proves for the native
  * parquet path. Fewer files must be READ (records of the fact-scan
  * stage, 100 per file), results must be identical with the feature off.
  */
class SnapshotRuntimeFilterSpec extends SparkSpec {

  private def exportRangedFact(root: String): Unit = {
    // 8 range-disjoint files over k∈[0,800): each file's manifest entry
    // records a tight [min,max] for k, so a runtime key set covering
    // only [0,100) can prune 7 of 8 files
    val fact = spark.range(0, 800)
      .select(col("id").as("k"), (col("id") % 7).cast("long").as("v"))
      .repartitionByRange(8, col("k"))
    Snapshot.export(spark, Map("fact" -> fact), root, "g1")
    val entry = Snapshot.readManifest(spark, root, "g1").tables("fact")
    assert(entry.files.size == 8, s"expected 8 range files, got ${entry.files.size}")
    assert(entry.files.forall(_.stats.contains("k")),
      "every file must carry k min/max stats for the pruner")
  }

  private def snap = spark.read.format("graft.sources.SnapshotSource")
    .option("root", rootDir).option("tag", "g1").option("table", "fact").load()

  private var rootDir: String = _

  /** `body`'s result and the files it read in stages that read the
    * snapshot (the scan's input RDD is a `DataSourceRDD`), counted as
    * records read over the 100 rows each file of the fact holds.
    */
  private def withScanFiles[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          records.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      (out, records.get / 100)
    } finally sc.removeSparkListener(listener)
  }

  test("a selective broadcast dim join prunes snapshot files at execution; results identical with the feature off") {
    rootDir = Files.createTempDirectory("snap_rf").toString
    exportRangedFact(rootDir)
    // dim covers only k∈[0,100) after its filter. The predicate must be
    // REAL (the pruning rule requires a selective dim filter) and
    // OPAQUE to constraint inference — a `when(id<100,...)` tag folds
    // back into a static `k < 100` the existing manifest pruning
    // already handles, which would contaminate the feature-off control.
    // concat+integer-division can't be inverted by the optimizer, so
    // ONLY the runtime key set can prune here.
    val dim = spark.range(0, 800)
      .select(col("id").as("k"),
        concat(lit("p"), (col("id") / 100).cast("int")).as("tag"))
    def query = snap.join(broadcast(dim.where(col("tag") === "p0")), "k")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))

    val q1 = query
    val planStr = q1.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"snapshot fact scan must carry a runtime pruning subquery, got:\n$planStr")

    val (on, opensOn) = withScanFiles(q1.collect())
    assert(opensOn < 8,
      s"runtime filter must prune file reads below the 8-file total, read $opensOn")

    val saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val (off, opensOff) = withScanFiles(query.collect())
      assert(opensOff == 8, s"with the feature off every file scans, read $opensOff")
      assert(on.toSeq == off.toSeq,
        s"pruning must not change results: on=${on.toSeq} off=${off.toSeq}")
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", saved)
  }

  test("filterAttributes advertises only stat-backed columns") {
    rootDir = Files.createTempDirectory("snap_rf_attrs").toString
    exportRangedFact(rootDir)
    val entry = Snapshot.readManifest(spark, rootDir, "g1").tables("fact")
    val scan = graft.sources.SnapshotScan(snapshotTable(entry), snap.schema)
    val attrs = scan.filterAttributes().map(_.describe()).toSet
    assert(attrs.contains("k") && attrs.contains("v"),
      s"int64 columns with footer stats must be advertised, got $attrs")
  }

  test("pruning 100k files against 10k keys is driver-cheap and exact (the O(F log V) claim)") {
    // the scale shape the binary-search pruner exists for: a 100k-file
    // snapshot meets a 10k-key broadcast dim. Synthetic manifest
    // entries, no disk: file i covers k∈[10i, 10i+9], key j·100 lands
    // in file j·10, so the 10k keys select exactly 10k distinct files.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val files = (0 until 100000).map { i =>
      Snapshot.FileEntry(s"mem://f$i", 1L,
        Map("k" -> Snapshot.ColumnStats(i * 10L, i * 10L + 9L)))
    }
    val schema = StructType(Seq(StructField("k", LongType)))
    val scan = graft.sources.SnapshotScan(
      snapshotTable(Snapshot.TableEntry(files, 0L, "", schemaJson = Some(schema.json))), schema)
    val keys: Array[Any] =
      Array.tabulate(10000)(j => java.lang.Long.valueOf(j * 100L))
    val probes0 = graft.sources.SnapshotScanProbe.runtimeProbes.sum()
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", keys)))
    val planned = plannedFiles(scan)
    assert(planned.length == 10000,
      s"10k keys in 10k distinct file ranges must plan exactly 10k files, got ${planned.length}")
    // complexity asserted as an OP-COUNT, not wall-clock (which flakes
    // on loaded shared hosts — r12 advice): exactly one binary-search
    // range probe per file proves the O(F log V) shape; the naive
    // O(F×V) per-key loop would be 10^9 probe-equivalent steps and any
    // per-key re-walk would multiply this counter
    val probes = graft.sources.SnapshotScanProbe.runtimeProbes.sum() - probes0
    assert(probes == 100000L,
      s"expected exactly one range probe per file (100000), got $probes")
  }

  test("runtime In-pruner keeps a file iff any key lands in its [min,max] (binary-search path)") {
    rootDir = Files.createTempDirectory("snap_rf_unit").toString
    exportRangedFact(rootDir)
    val entry = Snapshot.readManifest(spark, rootDir, "g1").tables("fact")
    val scan = graft.sources.SnapshotScan(snapshotTable(entry), snap.schema)
    // keys chosen inside exactly two distinct file ranges
    val mins = entry.files.map(_.stats("k").min).sorted
    val keys: Array[Any] = Array(java.lang.Long.valueOf(mins(2)), java.lang.Long.valueOf(mins(5)))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("k", keys)))
    val planned = plannedFiles(scan)
    assert(planned.length == 2,
      s"two keys in two disjoint file ranges must plan exactly 2 files, got ${planned.length}")
    // an empty-overlap key set prunes everything
    scan.filter(Array[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.In("k",
      Array(java.lang.Long.valueOf(100000L)))))
    assert(plannedFiles(scan).isEmpty)
    // clearing the runtime filter restores the full file set
    scan.filter(Array.empty[org.apache.spark.sql.sources.Filter])
    assert(plannedFiles(scan).length == 8)
  }
}
