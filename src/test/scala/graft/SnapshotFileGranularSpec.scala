package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._
import graft.sources.Snapshot

/** File-granular incremental export: a flat table whose signature
  * differs from the parent's links every partition that equals one of
  * the parent's files and writes only the others. Partitions come from
  * `spark.range(..., numSlices)` and unions of such frames, so each
  * case knows which partitions changed.
  */
class SnapshotFileGranularSpec extends SparkSpec {

  private def shape(ids: DataFrame): DataFrame =
    ids.select(col("id"), (col("id") * 7).as("v"), concat(lit("k"), col("id")).as("s"))

  /** `n` rows of ids from `from`, in `slices` partitions. */
  private def rows(from: Long, n: Long, slices: Int): DataFrame =
    shape(spark.range(from, from + n, 1, slices).toDF())

  private def base = rows(0, 4000, 4)

  private def paths(m: Snapshot.Manifest, t: String) = m.tables(t).files.map(_.path)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The table signature of `df`'s rows, with its hash sum, computed
    * apart from the snapshot code: XXH64 (seed 42) of each row's
    * `UnsafeRow` bytes, collected, and summed as a BigInteger.
    */
  private def sumForm(df: DataFrame): (String, java.math.BigInteger) = {
    val schema = df.schema
    val hashes = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      it.map { r =>
        val u = proj(r)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
    }.collect()
    val total = hashes.foldLeft(java.math.BigInteger.ZERO)((a, h) => a.add(java.math.BigInteger.valueOf(h)))
    val content = if (hashes.isEmpty) "empty" else total.toString
    (s"${hashes.length}:${schema.catalogString.hashCode}:h2:$content", total)
  }

  /** Rows in the parquet file at `path`. */
  private def fileRows(path: String): Long = spark.read.parquet(path).count()

  test("an append writes only the new partition; the other paths point into the parent") {
    val root = Files.createTempDirectory("snap_fg_append").toString
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    assert(m1.tables("t").files.size == 4 && m1.tables("t").files.forall(_.signature.isDefined),
      "a full export records one signed file per partition")
    val grown = base.unionByName(rows(4000, 500, 1))
    val m2 = Snapshot.export(spark, Map("t" -> grown), root, "t2", Some("t1"))
    val files = m2.tables("t").files
    assert(files.size == 5)
    assert(files.take(4) == m1.tables("t").files, "unchanged partitions must link the parent's files")
    assert(files.last.path.contains("/t2/") && files.last.signature.isDefined)
    assert(m2.tables("t").rows == 4500)
    assert(sameRows(Snapshot.read(spark, root, "t2", "t"), grown))
  }

  test("an UPDATE inside one partition rewrites only that partition") {
    val root = Files.createTempDirectory("snap_fg_update").toString
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    // id 1234 lies in the second of the four 1000-row partitions
    val updated = base.withColumn("v", when(col("id") === 1234, lit(-1L)).otherwise(col("v")))
    val m2 = Snapshot.export(spark, Map("t" -> updated), root, "t2", Some("t1"))
    val (before, after) = (paths(m1, "t"), paths(m2, "t"))
    assert(after.size == 4)
    assert(after(1).contains("/t2/") && !before.contains(after(1)), "the updated partition is rewritten")
    assert(Seq(0, 2, 3).forall(i => after(i) == before(i)), s"the others must link: $after")
    assert(sameRows(Snapshot.read(spark, root, "t2", "t"), updated))
  }

  test("a column rename with identical values inherits nothing") {
    val root = Files.createTempDirectory("snap_fg_rename").toString
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    // xxhash64 ignores names: the renamed partitions hash exactly like the parent's files
    val renamed = base.withColumnRenamed("v", "w")
    val m2 = Snapshot.export(spark, Map("t" -> renamed), root, "t2", Some("t1"))
    assert(paths(m2, "t").forall(_.contains("/t2/")), s"rename inherited files: ${paths(m2, "t")}")
    assert(paths(m2, "t").intersect(paths(m1, "t")).isEmpty)
    val back = Snapshot.read(spark, root, "t2", "t")
    assert(back.columns.toSeq == Seq("id", "w", "s") && sameRows(back, renamed))
  }

  test("two identical partitions get two distinct files") {
    val root = Files.createTempDirectory("snap_fg_twins").toString
    // `slices` partitions, each holding the same 1000 rows
    def copies(slices: Int) =
      shape(spark.range(0, 1000L * slices, 1, slices).select((col("id") % 1000).as("id")))
    // the parent holds ONE copy: the first twin links it, the second is written
    val m1 = Snapshot.export(spark, Map("t" -> copies(1)), root, "t1")
    val twins = copies(2)
    val m2 = Snapshot.export(spark, Map("t" -> twins), root, "t2", Some("t1"))
    val p2 = paths(m2, "t")
    assert(p2.size == 2 && p2.distinct.size == 2, s"each twin needs its own file: $p2")
    assert(p2.head == paths(m1, "t").head && p2(1).contains("/t2/"))
    assert(m2.tables("t").files.map(_.signature).distinct.size == 1, "the twins sign alike")
    // the parent now holds two signed copies: both twins link, to DIFFERENT files
    val m3 = Snapshot.export(spark, Map("t" -> twins.unionByName(rows(5000, 10, 1))),
      root, "t3", Some("t2"))
    assert(paths(m3, "t").take(2) == p2)
    assert(Snapshot.read(spark, root, "t3", "t").count() == 2010)
  }

  test("maxRecordsPerFile rolls written partitions into signed files; unchanged ones still link") {
    val root = Files.createTempDirectory("snap_fg_maxrec").toString
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    val grown = base.unionByName(rows(4000, 500, 1))
    val more = rows(6000, 700, 1)
    val key = "spark.sql.files.maxRecordsPerFile"
    def capped[T](body: => T): T = {
      spark.conf.set(key, "300")
      try body finally spark.conf.unset(key)
    }
    val m2 = capped(Snapshot.export(spark, Map("t" -> grown), root, "t2", Some("t1")))
    val files = m2.tables("t").files
    // the 4 unchanged 1000-row partitions link; the new 500 rows become 300 + 200
    assert(files.size == 6 && files.take(4) == m1.tables("t").files, paths(m2, "t"))
    val fresh = files.drop(4)
    assert(fresh.forall(_.path.contains("/t2/")) && fresh.map(f => fileRows(f.path)).sorted == Seq(200L, 300L))
    assert(fresh.forall(_.signature.isDefined), "every rolled file is signed")
    assert(m2.tables("t").signature == sumForm(grown)._1)
    assert(sameRows(Snapshot.read(spark, root, "t2", "t"), grown))
    // the DSv2 sink rolls under the same conf: 700 rows as 300 + 300 + 100
    capped(sink(root, "t2", "t", more))
    val appended = Snapshot.readManifest(spark, root, "t2").tables("t")
    val sinkFiles = appended.files.filterNot(files.contains)
    assert(sinkFiles.map(f => fileRows(f.path)).sorted == Seq(100L, 300L, 300L))
    assert(sinkFiles.forall(_.signature.isDefined))
    assert(appended.signature == sumForm(grown.unionByName(more))._1)
    // one generation dir holds the written files
    val gens = new java.io.File(s"$root/t2/t").listFiles().filter(_.getName.startsWith("g-"))
    assert(gens.length == 1, gens.map(_.getName).mkString(", "))
  }

  test("retain(1) then vacuum leaves the newest tag fully readable") {
    val root = Files.createTempDirectory("snap_fg_retain").toString
    val v2 = base.unionByName(rows(4000, 500, 1))
    val v3 = v2.unionByName(rows(4500, 500, 1))
    Snapshot.export(spark, Map("t" -> base), root, "t1")
    Snapshot.export(spark, Map("t" -> v2), root, "t2", Some("t1"))
    val m3 = Snapshot.export(spark, Map("t" -> v3), root, "t3", Some("t2"))
    assert(Set("/t1/", "/t2/", "/t3/").forall(t => paths(m3, "t").exists(_.contains(t))),
      "t3 owns files in all three tags")
    // t3 links into t1 and t2, so retention keeps both
    assert(Snapshot.retain(spark, root, 1).isEmpty)
    Snapshot.vacuum(spark, root)
    val fresh = spark.newSession()
    assert(sameRows(Snapshot.read(fresh, root, "t3", "t"), v3))
    assert(fresh.read.format("graft.sources.SnapshotSource").option("root", root)
      .option("tag", "t3").option("table", "t").load().count() == 5000)
  }

  test("the table signature equals the decimal(38,0) sum form when the hash sum overflows a long") {
    val root = Files.createTempDirectory("snap_fg_sig").toString
    val df = rows(0, 3000, 3)
    val (expected, total) = sumForm(df)
    assert(total.bitLength > 63, s"precondition: the hash sum $total must overflow a long")
    val m = Snapshot.export(spark, Map("t" -> df), root, "t1")
    assert(m.tables("t").signature == expected)
    // a table-level match still inherits the whole entry and writes nothing
    val m2 = Snapshot.export(spark, Map("t" -> df.repartition(5)), root, "t2", Some("t1"))
    assert(m2.tables("t") == m.tables("t"))
  }

  test("one signature job signs every table of an export") {
    val root = Files.createTempDirectory("snap_fg_onejob").toString
    val tables = Map("a" -> base, "b" -> rows(0, 300, 1), "c" -> rows(100, 2000, 3),
      "d" -> rows(7, 50, 2))
    Snapshot.export(spark, tables, root, "t1")
    val (m2, jobs) = withJobCount(Snapshot.export(spark, tables, root, "t2", Some("t1")))
    // all four inherit their parent entry whole: the signature job is the only job
    assert(jobs == 1)
    assert(m2.tables == Snapshot.readManifest(spark, root, "t1").tables)
  }

  test("signing tables together gives each the signature it gets alone") {
    val root = Files.createTempDirectory("snap_fg_together").toString
    val tables = Map(
      "plain1" -> rows(0, 3000, 3),
      "plain2" -> rows(5000, 700, 2),
      "maps" -> rows(0, 400, 2).withColumn("m", map(lit("k"), col("v"))),
      "empty" -> rows(0, 0, 2))
    val together = Snapshot.export(spark, tables, root, "all").tables
    tables.foreach { case (name, df) =>
      val alone = Snapshot.export(spark, Map(name -> df), root, s"only_$name").tables(name)
      assert(together(name).signature == alone.signature, name)
      assert(together(name).files.map(_.signature) == alone.files.map(_.signature), name)
      assert(together(name).rows == alone.rows, name)
    }
    assert(together("empty").signature.endsWith(":empty") && together("empty").rows == 0)
    assert(together("empty").files.isEmpty)
    Seq("plain1", "plain2", "maps").foreach { name =>
      val df = tables(name)
      assert(together(name).signature == sumForm(df)._1, name)
      assert(together(name).files.size == df.rdd.getNumPartitions &&
        together(name).files.forall(_.signature.isDefined), name)
    }
  }

  /** Writes `df` into `table` of `tag` through the DSv2 sink. */
  private def sink(root: String, tag: String, table: String, df: DataFrame,
                   mode: String = "append"): Unit =
    df.write.format("graft.sources.SnapshotSource").option("root", root).option("tag", tag)
      .option("table", table).option("schema", df.schema.json).mode(mode).save()

  test("an export that rewrites partitions of three tables runs two jobs") {
    val root = Files.createTempDirectory("snap_fg_twojobs").toString
    val tables = Map("a" -> base, "b" -> rows(0, 300, 1), "c" -> rows(100, 2000, 3),
      "d" -> rows(7, 50, 2))
    val (m1, fullJobs) = withJobCount(Snapshot.export(spark, tables, root, "t1"))
    assert(fullJobs == 1, "a full export signs every table by the one job that writes it")
    val changed = tables ++ Map(
      "a" -> base.unionByName(rows(4000, 500, 1)),
      "b" -> tables("b").withColumn("v", when(col("id") === 5, lit(-1L)).otherwise(col("v"))),
      "c" -> tables("c").unionByName(rows(9000, 10, 1)))
    val (m2, jobs) = withJobCount(Snapshot.export(spark, changed, root, "t2", Some("t1")))
    assert(jobs == 2, "one signature job and one write job")
    Seq("a", "b", "c").foreach { t =>
      val files = m2.tables(t).files
      assert(files.exists(_.path.contains("/t2/")) && files.forall(_.signature.isDefined), t)
      assert(sameRows(Snapshot.read(spark, root, "t2", t), changed(t)), t)
    }
    assert(paths(m2, "a").take(4) == paths(m1, "a") && paths(m2, "c").take(3) == paths(m1, "c"),
      "unchanged partitions link the parent's files")
    assert(m2.tables("d") == m1.tables("d"))
  }

  test("a DSv2-appended entry, read back and exported, is inherited whole") {
    val root = Files.createTempDirectory("snap_fg_sinkinherit").toString
    Snapshot.export(spark, Map("t" -> base), root, "t1")
    sink(root, "t1", "t", rows(4000, 500, 2))
    val appended = Snapshot.readManifest(spark, root, "t1").tables("t")
    assert(appended.rows == 4500 && appended.files.size == 6)
    val (m2, jobs) = withJobCount(
      Snapshot.export(spark, Map("t" -> Snapshot.read(spark, root, "t1", "t")), root, "t2", Some("t1")))
    assert(m2.tables("t") == appended, "the child's entry must be the parent's: same files")
    // a bare read of the parent's files is proven unchanged: not even signed
    assert(jobs == 0 && !new java.io.File(s"$root/t2/t").exists(), "nothing may be read or written")
    // the same rows with one value changed are rewritten
    val edited = Snapshot.read(spark, root, "t1", "t")
      .withColumn("v", when(col("id") === 4100, lit(-1L)).otherwise(col("v")))
    val m3 = Snapshot.export(spark, Map("t" -> edited), root, "t3", Some("t1"))
    assert(m3.tables("t").signature != appended.signature)
    assert(paths(m3, "t").exists(_.contains("/t3/")))
    assert(sameRows(Snapshot.read(spark, root, "t3", "t"), edited))
  }

  test("the DSv2 sink signs its files and an appended table as export does") {
    val root = Files.createTempDirectory("snap_fg_sinksig").toString
    val extra = rows(4000, 500, 1)
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    sink(root, "t1", "t", extra)
    val entry = Snapshot.readManifest(spark, root, "t1").tables("t")
    val sinkFiles = entry.files.filterNot(m1.tables("t").files.contains)
    val exported = Snapshot.export(spark, Map("x" -> extra), root, "x1").tables("x").files
    assert(sinkFiles.size == 1 && exported.size == 1)
    assert(sinkFiles.head.signature.isDefined && sinkFiles.head.signature == exported.head.signature)
    assert(entry.signature == sumForm(base.unionByName(extra))._1)
  }

  test("a truncate signs only the new files; a map-column append is signed like any other") {
    val root = Files.createTempDirectory("snap_fg_sinktrunc").toString
    val extra = rows(4000, 500, 2)
    Snapshot.export(spark, Map("t" -> base), root, "t1")
    sink(root, "t1", "t", extra, "overwrite")
    val truncated = Snapshot.readManifest(spark, root, "t1").tables("t")
    assert(truncated.rows == 500 && truncated.signature == sumForm(extra)._1)
    assert(truncated.files.size == 2 && truncated.files.forall(_.signature.isDefined))
    val maps = rows(0, 400, 2).withColumn("m", map(lit("k"), col("v")))
    Snapshot.export(spark, Map("m" -> maps), root, "t1m")
    val few = maps.where(col("id") < 10)
    sink(root, "t1m", "m", few)
    val mapEntry = Snapshot.readManifest(spark, root, "t1m").tables("m")
    assert(mapEntry.rows == 410)
    assert(mapEntry.signature == sumForm(maps.unionByName(few))._1)
    assert(mapEntry.files.forall(_.signature.isDefined))
  }

  test("a nondeterministic input is signed by the rows its files store") {
    val root = Files.createTempDirectory("snap_fg_nondet").toString
    // a fresh value on every evaluation, so the signature job and the
    // write job see different rows (rand() is seeded per partition and
    // recomputes the same values)
    val noise = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextLong()).asNondeterministic()
    val noisy = base.withColumn("r", noise())
    Snapshot.export(spark, Map("t" -> noisy), root, "t1")
    val m2 = Snapshot.export(spark, Map("t" -> noisy), root, "t2", Some("t1"))
    val entry = m2.tables("t")
    assert(entry.files.nonEmpty && entry.files.forall(_.signature.isDefined), "every file is signed")
    assert(entry.signature == sumForm(Snapshot.read(spark, root, "t2", "t"))._1)
  }

  test("a first export reads each input row once, in one job") {
    val root = Files.createTempDirectory("snap_fg_onepass").toString
    val src = Files.createTempDirectory("snap_fg_onepass_src").toString + "/t"
    base.write.parquet(src)
    val input = spark.read.parquet(src)
    val sc = spark.sparkContext
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val (m, jobs) =
      try {
        val out = withJobCount(Snapshot.export(spark, Map("t" -> input), root, "t1"))
        org.apache.spark.TestListenerBus.drain(sc)
        out
      } finally sc.removeSparkListener(listener)
    assert(recordsRead.get == 4000L, s"${recordsRead.get} records read for 4000 rows")
    assert(jobs == 1)
    assert(m.tables("t").signature == sumForm(input)._1)
  }

  test("maps, empty and wide-decimal tables are written by the snapshot writer alone") {
    val root = Files.createTempDirectory("snap_fg_onewriter").toString
    val tables = Map(
      "maps" -> rows(0, 400, 2).withColumn("m", map(lit("k"), col("v"))),
      "empty" -> rows(0, 0, 2),
      "wide" -> rows(0, 300, 2).withColumn("d", (col("id") * 1000003).cast("decimal(30,2)")))
    val m = Snapshot.export(spark, tables, root, "t1")
    val written = Files.walk(java.nio.file.Paths.get(root, "t1")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).filterNot(n => n.startsWith(".") || n == "manifest.json")
    assert(written.nonEmpty && !written.contains("_SUCCESS"), written)
    assert(written.forall(_.matches("part-\\d{5}-\\d+-[0-9a-f-]{36}\\.parquet")), written)
    assert(m.tables("empty").files.isEmpty && m.tables("empty").rows == 0)
    Seq("maps", "wide").foreach { t =>
      assert(m.tables(t).files.nonEmpty && m.tables(t).files.forall(_.signature.isDefined), t)
      assert(m.tables(t).signature == sumForm(tables(t))._1, t)
    }
    assert(Snapshot.read(spark, root, "t1", "empty").count() == 0)
    assert(spark.read.format("graft.sources.SnapshotSource").option("root", root)
      .option("tag", "t1").option("table", "empty").load().count() == 0)
    spark.conf.set("spark.sql.catalog.snapw", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.snapw.root", root)
    try assert(spark.sql("SELECT * FROM snapw.t1.empty").count() == 0)
    finally {
      spark.conf.unset("spark.sql.catalog.snapw")
      spark.conf.unset("spark.sql.catalog.snapw.root")
    }
  }

  test("an interval column fails the export by name before any job or file") {
    val root = Files.createTempDirectory("snap_fg_interval").toString
    val bad = base.withColumn("iv", expr("make_interval(0, 0, 0, 1)"))
    val (e, jobs) = withJobCount(intercept[IllegalArgumentException] {
      Snapshot.export(spark, Map("ok" -> base, "bad" -> bad), root, "t1")
    })
    assert(e.getMessage.contains("snapshot table 'bad': column 'iv' has type interval") &&
      e.getMessage.contains("parquet writer cannot store"), e.getMessage)
    assert(jobs == 0, s"$jobs jobs ran")
    assert(!new java.io.File(s"$root/t1").exists(), "nothing may be written")
  }

  test("a table signs alike with or without a parent") {
    val root = Files.createTempDirectory("snap_fg_parentless").toString
    val tables = Map("a" -> base, "b" -> rows(0, 300, 1),
      "maps" -> rows(0, 400, 2).withColumn("m", map(lit("k"), col("v"))), "empty" -> rows(0, 0, 2))
    Snapshot.export(spark, tables.map { case (n, df) => n -> df.where(col("id") % 3 === 0) }, root, "p")
    val child = Snapshot.export(spark, tables, root, "c", Some("p")).tables
    val alone = Snapshot.export(spark, tables, root, "solo").tables
    tables.keys.foreach { t =>
      assert(child(t).signature == alone(t).signature && child(t).rows == alone(t).rows, t)
    }
  }

  test("an export of a bare snapshot read of the parent reads no row; any other shape signs") {
    val root = Files.createTempDirectory("snap_fg_proof").toString
    val m1 = Snapshot.export(spark, Map("t" -> base), root, "t1")
    def export(tag: String, df: DataFrame) =
      withJobCount(Snapshot.export(spark, Map("t" -> df), root, tag, Some("t1")).tables("t"))
    val (bare, bareJobs) = export("t2", Snapshot.read(spark, root, "t1", "t"))
    assert(bareJobs == 0 && bare == m1.tables("t"), s"$bareJobs jobs")
    // the same rows behind a filter are signed, then inherited whole
    val (filtered, filteredJobs) = export("t3", Snapshot.read(spark, root, "t1", "t").where(col("id") >= 0))
    assert(filteredJobs == 1 && filtered == m1.tables("t"), s"$filteredJobs jobs")
    // a column subset is a new table: signed and written
    val subset = Snapshot.read(spark, root, "t1", "t").select("id", "v")
    val (projected, projectedJobs) = export("t4", subset)
    assert(projectedJobs == 2 && sameRows(Snapshot.read(spark, root, "t4", "t"), subset.select("id", "v")))
    assert(projected.files.forall(_.path.contains("/t4/")))
    // the parent's files read under another root are signed
    val other = Files.createTempDirectory("snap_fg_proof_other").toString
    Files.createDirectories(java.nio.file.Paths.get(other, "t1"))
    Files.copy(java.nio.file.Paths.get(root, "t1", "manifest.json"), java.nio.file.Paths.get(other, "t1", "manifest.json"))
    val (foreign, foreignJobs) = export("t5", Snapshot.read(spark, other, "t1", "t"))
    assert(foreignJobs == 1 && foreign == m1.tables("t"), s"$foreignJobs jobs")
    // a read taken before an append to the parent holds the pre-append rows
    val before = Snapshot.read(spark, root, "t1", "t")
    sink(root, "t1", "t", rows(4000, 500, 1))
    val (stale, staleJobs) = export("t6", before)
    assert(staleJobs >= 1 && stale.rows == 4000, s"$staleJobs jobs")
    assert(sameRows(Snapshot.read(spark, root, "t6", "t"), base))
  }

  /** `df` written as parquet under a fresh directory, in its partitions. */
  private def parquetDir(df: DataFrame): String = {
    val dir = Files.createTempDirectory("snap_fg_in").toString + "/in"
    df.write.parquet(dir)
    dir
  }

  test("an unchanged parquet input reads no row at the second export") {
    val root = Files.createTempDirectory("snap_fg_parquet").toString
    val dir = parquetDir(base)
    val m1 = Snapshot.export(spark, Map("t" -> spark.read.parquet(dir)), root, "t1").tables("t")
    val inputs = m1.inputs.getOrElse(fail("a parquet input records its fingerprint"))
    assert(inputs.files.size == 4 && inputs.files.map(_.path) == inputs.files.map(_.path).sorted)
    // built outside the count: reading a parquet schema runs a job
    val (again, filtered) = (spark.read.parquet(dir), spark.read.parquet(dir).where(col("id") >= 0))
    val (m2, jobs) = withJobCount(Snapshot.export(spark, Map("t" -> again), root, "t2", Some("t1")).tables("t"))
    assert(jobs == 0 && m2 == m1, s"$jobs jobs")
    // a filtered read of the same files is signed, and inherits whole
    val (m3, filteredJobs) = withJobCount(
      Snapshot.export(spark, Map("t" -> filtered), root, "t3", Some("t2")).tables("t"))
    assert(filteredJobs == 1 && m3 == m1, s"$filteredJobs jobs")
  }

  test("a parquet file rewritten in place at the same length with a new mtime is signed again") {
    val root = Files.createTempDirectory("snap_fg_rewrite").toString
    // plain, uncompressed int columns: other values, same byte length
    def single(from: Long): java.nio.file.Path = {
      val dir = Files.createTempDirectory("snap_fg_one").toString + "/one"
      spark.range(from, from + 100, 1, 1).select(col("id").cast("int").as("k")).write
        .option("compression", "none").option("parquet.enable.dictionary", "false").parquet(dir)
      Files.list(java.nio.file.Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst().get
    }
    val (a, b) = (single(0), single(1000))
    assert(Files.size(a) == Files.size(b), "the probe needs two files of one length")
    val in = Files.createTempDirectory("snap_fg_inplace")
    val target = in.resolve("data.parquet")
    Files.copy(a, target)
    val m1 = Snapshot.export(spark, Map("t" -> spark.read.parquet(in.toString)), root, "t1").tables("t")
    val mtime = Files.getLastModifiedTime(target).toMillis
    Files.copy(b, target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, java.nio.file.attribute.FileTime.fromMillis(mtime + 10000))
    val m2 = Snapshot.export(spark, Map("t" -> spark.read.parquet(in.toString)), root, "t2", Some("t1")).tables("t")
    assert(m2.signature != m1.signature && m2.inputs.exists(_.files.head.modified == mtime + 10000))
    assert(Snapshot.read(spark, root, "t2", "t").agg(min("k")).head.getInt(0) == 1000)
  }

  test("a DSv2 append to the parent entry makes the next export sign the parquet input again") {
    val root = Files.createTempDirectory("snap_fg_sinkinputs").toString
    val dir = parquetDir(base)
    Snapshot.export(spark, Map("t" -> spark.read.parquet(dir)), root, "t1")
    sink(root, "t1", "t", rows(4000, 500, 1))
    assert(Snapshot.readManifest(spark, root, "t1").tables("t").inputs.isEmpty,
      "the sink's entry must not carry the export's fingerprint")
    val again = spark.read.parquet(dir)
    val (m2, jobs) = withJobCount(Snapshot.export(spark, Map("t" -> again), root, "t2", Some("t1")).tables("t"))
    assert(jobs >= 1 && m2.rows == 4000 && m2.inputs.isDefined, s"$jobs jobs")
    assert(sameRows(Snapshot.read(spark, root, "t2", "t"), base))
  }
}
