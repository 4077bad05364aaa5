package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** A legacy hive-partitioned snapshot entry reads through the one DSv2
  * scan on every entry point — `Snapshot.read`, the options path and the
  * catalog — with its partition values decoded from the manifest's file
  * paths (the entry's column types, NULL for
  * `__HIVE_DEFAULT_PARTITION__`) and pruned by static and runtime
  * filters. Writes into such an entry still fail by name: flat files
  * would carry none of its directory-encoded values. Export no longer
  * writes hive layouts, so the entries here are the legacy ones
  * [[SparkSpec.legacyPartitioned]] writes.
  */
class PartitionedDsv2ProbeSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  /** nation with region 0's key NULL, so one partition directory is
    * `__HIVE_DEFAULT_PARTITION__`.
    */
  private def nation: DataFrame = {
    val n = Tables.nation(spark, sf)
    n.withColumn("n_regionkey", when(col("n_regionkey") =!= 0, col("n_regionkey"))
      .cast(n.schema("n_regionkey").dataType))
  }

  private def exportPartitioned(): String = {
    val root = Files.createTempDirectory("snap_part_dsv2").toString
    legacyPartitioned(root, "pt", "nation", nation, Seq("n_regionkey"))
    root
  }

  private def options(root: String): DataFrame =
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "pt").option("table", "nation").load()

  private var catalogs = 0

  /** `body` given a fresh catalog name over `root` (Spark keeps a
    * catalog instance per name for the session's lifetime).
    */
  private def withCatalog[T](root: String)(body: String => T): T = {
    catalogs += 1
    val name = s"snapx$catalogs"
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    try body(name) finally {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.root")
    }
  }

  /** The files the plan's snapshot scan reads. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => plannedFiles(b.batch)
    }.flatten

  /** The entry's files under partition directory `dir`. */
  private def filesUnder(root: String, dir: String): Seq[String] =
    Snapshot.readManifest(spark, root, "pt").tables("nation").files.map(_.path)
      .filter(_.contains(s"/$dir/"))

  /** Every row equal, partition column last with its exported type. */
  private def assertSameRows(df: DataFrame): Unit = {
    assert(df.schema.fieldNames.last == "n_regionkey")
    assert(df.schema("n_regionkey").dataType == nation.schema("n_regionkey").dataType)
    val want = nation.select(df.columns.map(col): _*)
    assert(df.count() == want.count())
    assert(df.exceptAll(want).isEmpty && want.exceptAll(df).isEmpty)
    assert(df.where(col("n_regionkey").isNull).count() == 5)
  }

  test("a legacy partitioned entry reads on every entry point") {
    val root = exportPartitioned()
    assertSameRows(Snapshot.read(spark, root, "pt", "nation"))
    assertSameRows(options(root))
    withCatalog(root) { cat =>
      // a flat table under the same root reads beside it
      Snapshot.export(spark, Map("region" -> Tables.region(spark, sf)), root, "flat")
      assertSameRows(spark.table(s"$cat.pt.nation"))
      assert(spark.table(s"$cat.flat.region").count() == Tables.region(spark, sf).count())
    }
  }

  test("the partitioned path itself still round-trips through Snapshot.read") {
    val root = exportPartitioned()
    assert(Snapshot.read(spark, root, "pt", "nation").count() ==
      Tables.nation(spark, sf).count())
  }

  test("count(*) and min/max over a partition column equal the row scan") {
    val root = exportPartitioned()
    def aggs(df: DataFrame) =
      df.agg(count(lit(1)), min("n_regionkey"), max("n_regionkey"), min("n_nationkey")).collect().head
    val want = aggs(nation)
    assert(!want.isNullAt(1) && want.get(1) != want.get(2))
    assert(aggs(Snapshot.read(spark, root, "pt", "nation")) == want)
    assert(aggs(options(root)) == want)
    withCatalog(root)(cat => assert(aggs(spark.table(s"$cat.pt.nation")) == want))
    // the legacy entry's files carry no signed counts: count(*) alone is
    // refused by the manifest answer and read by the row scan
    val counted = options(root).agg(count(lit(1)))
    assert(!answeredFromManifest(counted))
    assert(counted.collect().head.getLong(0) == nation.count())
  }

  test("a partition filter plans only the matching files") {
    val root = exportPartitioned()
    val two = filesUnder(root, "n_regionkey=2")
    val none = filesUnder(root, "n_regionkey=__HIVE_DEFAULT_PARTITION__")
    assert(two.nonEmpty && none.nonEmpty)
    withCatalog(root) { cat =>
      Seq(Snapshot.read(spark, root, "pt", "nation"), options(root), spark.table(s"$cat.pt.nation"))
        .foreach { df =>
          val eq = df.where(col("n_regionkey") === 2)
          assert(scannedFiles(eq).sorted == two.sorted)
          assert(eq.count() == nation.where(col("n_regionkey") === 2).count())
          val isNull = df.where(col("n_regionkey").isNull)
          assert(scannedFiles(isNull).sorted == none.sorted)
          assert(isNull.count() == 5)
          // a filter on a data column alone prunes no partition
          assert(scannedFiles(df.where(col("n_nationkey") === 3)).length ==
            Snapshot.readManifest(spark, root, "pt").tables("nation").files.length)
        }
    }
  }

  test("a pruned read carries only the required partition columns") {
    val root = exportPartitioned()
    def scanColumns(df: DataFrame): Seq[String] =
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
      }.flatten
    val names = options(root).select("n_name")
    assert(scanColumns(names) == Seq("n_name"))
    assert(names.exceptAll(nation.select("n_name")).isEmpty && nation.select("n_name").exceptAll(names).isEmpty)
    val both = options(root).select("n_regionkey", "n_name")
    assert(scanColumns(both) == Seq("n_name", "n_regionkey"))
    val want = nation.select("n_regionkey", "n_name")
    assert(both.exceptAll(want).isEmpty && want.exceptAll(both).isEmpty)
  }

  test("a runtime filter on the partition column prunes files") {
    val root = exportPartitioned()
    val dim = Tables.region(spark, sf).select(col("r_regionkey").as("n_regionkey"),
      concat(lit("r"), col("r_name")).as("tag"))
      .withColumn("n_regionkey", col("n_regionkey").cast(nation.schema("n_regionkey").dataType))
    def query = options(root).join(broadcast(dim.where(col("tag") === "rASIA")), "n_regionkey")
      .agg(count(lit(1)), sum("n_nationkey"))
    def read(body: => Array[org.apache.spark.sql.Row]): (Seq[org.apache.spark.sql.Row], Long) = {
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
        val out = body.toSeq
        org.apache.spark.TestListenerBus.drain(sc)
        (out, records.get)
      } finally sc.removeSparkListener(listener)
    }
    val q = query
    assert(q.queryExecution.executedPlan.toString.toLowerCase.contains("dynamicpruning"))
    val (on, readOn) = read(q.collect())
    val saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val (off, readOff) = read(query.collect())
      // the join's inferred IS NOT NULL still skips the NULL partition
      assert(readOff == nation.where(col("n_regionkey").isNotNull).count(),
        s"with runtime pruning off every non-NULL partition is read, read $readOff")
      assert(readOn == nation.where(col("n_regionkey") === 2).count(),
        s"the ASIA key must leave one partition's rows, read $readOn")
      assert(on == off)
    } finally spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", saved)
  }

  // ── WRITE-side probes (VERDICT r13 item 6): a partitioned write
  // attempt must fail loudly — never a silently-flat table.

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
