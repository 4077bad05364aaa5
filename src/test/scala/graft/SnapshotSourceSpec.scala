package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** DataSource V2 snapshot source: spark.read.format(...) end-to-end. */
class SnapshotSourceSpec extends SparkSpec {

  private lazy val root: String = {
    val r = Files.createTempDirectory("snap_dsv2").toString
    Snapshot.export(spark, Map(
      "documents" -> Tables.documents(spark, sf),
      "nation" -> Tables.nation(spark, sf)), r, "t1")
    r
  }

  private def dsv2(table: String) =
    spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "t1").option("table", table).load()

  test("DSv2 read equals the manifest-driven parquet read") {
    val v2 = dsv2("documents")
    val v1 = Snapshot.read(spark, root, "t1", "documents")
    assert(v2.schema == v1.schema)
    assert(v2.count() == v1.count())
    assert(v2.exceptAll(v1).count() == 0 && v1.exceptAll(v2).count() == 0)
  }

  test("array<float> columns decode through the DSv2 reader (3-level LIST)") {
    val r = Files.createTempDirectory("snap_emb").toString
    Snapshot.export(spark, Map("embeddings" -> Tables.embeddings(spark, sf)), r, "t1")
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "embeddings").load()
    val direct = Tables.embeddings(spark, sf)
    assert(v2.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    assert(v2.count() == direct.count())
    // element-exact equality, including vector order
    assert(v2.exceptAll(direct).count() == 0 && direct.exceptAll(v2).count() == 0)
    // arrays compose with the codegen'd vector expression
    val n = v2.select(expr("float_dot(embedding, embedding)").as("d"))
      .where(col("d") >= 0).count()
    assert(n == direct.count())
  }

  test("scan reports manifest statistics to the planner, scaled by pruning") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.stats
      }.head
    val full = scanStats(dsv2("documents"))
    assert(full.rowCount.contains(BigInt(Tables.documents(spark, sf).count())),
      s"manifest row count must reach the planner: ${full.rowCount}")
    assert(full.sizeInBytes > 0)
    // a 2-of-5-column projection must plan as a fraction of the bytes
    val pruned = scanStats(dsv2("documents").select("doc_id", "lang"))
    assert(pruned.sizeInBytes < full.sizeInBytes,
      s"pruned=$pruned full=$full")
  }

  test("map columns decode through the DSv2 reader") {
    val r = Files.createTempDirectory("snap_map").toString
    val derived = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      map(lit("price"), col("o_totalprice"), lit("half"), col("o_totalprice") / 2).as("m"))
    Snapshot.export(spark, Map("orders_map" -> derived), r, "t1")
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "orders_map").load()
    assert(v2.schema == derived.schema)
    assert(v2.count() == derived.count())
    // map equality isn't set-op comparable; compare extracted values
    def probe(df: org.apache.spark.sql.DataFrame) = df.select(
      org.apache.spark.sql.functions.sum(expr("element_at(m, 'price')")),
      org.apache.spark.sql.functions.sum(expr("element_at(m, 'half')")),
      org.apache.spark.sql.functions.sum(expr("size(m)"))).head
    assert(probe(v2) == probe(derived))
  }

  test("struct and array-of-struct columns decode recursively") {
    val r = Files.createTempDirectory("snap_struct").toString
    val derived = Tables.orders(spark, sf).select(
      col("o_orderkey"),
      struct(col("o_totalprice").as("price"), col("o_orderstatus").as("status")).as("info"),
      array(struct(col("o_custkey").as("k"), col("o_orderpriority").as("p"))).as("tags"))
    Snapshot.export(spark, Map("orders_nested" -> derived), r, "t1")
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "orders_nested").load()
    assert(v2.schema == derived.schema)
    assert(v2.count() == derived.count())
    assert(v2.exceptAll(derived).count() == 0 && derived.exceptAll(v2).count() == 0)
    // nested field access composes with Catalyst projections
    val sum = v2.select(org.apache.spark.sql.functions.sum(col("info.price"))).head.getDouble(0)
    val ref = derived.select(org.apache.spark.sql.functions.sum(col("info.price"))).head.getDouble(0)
    assert(sum == ref)
  }

  test("column pruning reaches the scan (projected read schema)") {
    val pruned = dsv2("documents").select("doc_id", "lang")
    assert(pruned.schema.fieldNames.toSeq == Seq("doc_id", "lang"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSnapshotScan"), plan)
    assert(plan.contains("columns=doc_id,lang"), plan)
    // values survive the projection
    assert(pruned.where(col("lang") === "en").count() ==
      Tables.documents(spark, sf).where(col("lang") === "en").count())
  }

  test("joins and aggregates compose over the DSv2 source") {
    val counts = dsv2("documents").groupBy("lang").count().orderBy("lang").collect()
    val expected = Tables.documents(spark, sf).groupBy("lang").count().orderBy("lang").collect()
    assert(counts.sameElements(expected))
  }

  test("timestamp columns round-trip through the DSv2 reader") {
    val r = Files.createTempDirectory("snap_dsv2_ts").toString
    Snapshot.export(spark, Map("orders" -> Tables.orders(spark, sf)), r, "t1")
    val v2 = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "orders").load()
    val v1 = Snapshot.read(spark, r, "t1", "orders")
    assert(v2.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType) // fixtures: isAdjustedToUTC=false
    assert(v2.exceptAll(v1).count() == 0 && v1.exceptAll(v2).count() == 0)
  }

  test("filter pushdown reaches the scan and results stay exact") {
    val filtered = dsv2("documents").where(col("doc_id") < 10 && col("lang") === "en")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSnapshotScan"), plan)
    assert(plan.contains("pushedFilters=[") && plan.contains("LessThan(doc_id,10)"), plan)
    val expected = Tables.documents(spark, sf)
      .where(col("doc_id") < 10 && col("lang") === "en")
    assert(filtered.count() == expected.count())
    assert(filtered.exceptAll(expected).count() == 0)
  }

  test("pushed predicates skip row groups in Spark's parquet reader (query-level proof)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // n_name is a string column: the manifest records no stats for it,
    // so no file is skipped on the driver — only the footer's row-group
    // statistics, read by Spark's parquet reader, can drop its rows
    val entry = Snapshot.readManifest(spark, root, "t1").tables("nation")
    assert(entry.files.forall(!_.stats.contains("n_name")), entry.files)
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b
      }
      assert(scans.size == 1, df.queryExecution.executedPlan)
      scans.head.metrics("numOutputRows").value
    }
    // out-of-range predicate → no row reaches the scan's output
    assert(scanRows(dsv2("nation").where(col("n_name") > "ZZZZ")) == 0)
    // control: an in-range predicate on the same column reads rows
    assert(scanRows(dsv2("nation").where(col("n_name") === "NATION_7")) > 0)
  }

  test("count/min/max push to footer statistics (no data pages read)") {
    val agg = dsv2("nation").agg(
      count(lit(1)).as("n"),
      min(col("n_nationkey")).as("min_k"),
      max(col("n_nationkey")).as("max_k"))
    // answered from the manifest: the one answer row is a local scan
    assert(answeredFromManifest(agg), agg.queryExecution.executedPlan)
    val r = agg.collect().head
    // n_nationkey is an int32 dimension key — min/max keep the column type
    assert((r.getLong(0), r.getInt(1), r.getInt(2)) == (25L, 0, 24))
  }

  test("a 24-file footer aggregate packs files into fewer tasks, equal to the row scan") {
    val r = Files.createTempDirectory("snap_agg24").toString
    val df = spark.range(0, 24000, 1, 24).select(col("id"), (col("id") % 97).cast("int").as("k"))
    Snapshot.export(spark, Map("t" -> df), r, "t1")
    assert(Snapshot.readManifest(spark, r, "t1").tables("t").files.size == 24)
    def lookup(t: org.apache.spark.sql.DataFrame) =
      t.agg(count(lit(1)), min("id"), max("id"), min("k"), max("k"))
    val agg = lookup(spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "t").load())
    val (result, jobs) = withJobCount(agg.collect().head)
    // answered from the manifest: no scan task opens any of the 24 files
    assert(answeredFromManifest(agg), agg.queryExecution.executedPlan)
    assert(jobs <= 1, s"$jobs jobs for a manifest answer")
    val rowScan = lookup(Snapshot.read(spark, r, "t1", "t").where(col("id") >= 0))
    assert(!answeredFromManifest(rowScan))
    assert(result == rowScan.collect().head)
  }

  test("aggregate pushdown declines filters, groupBy and stat-unsafe columns") {
    // filter present → normal scan + residual evaluation
    val filtered = dsv2("nation").where(col("n_nationkey") > 5).agg(count(lit(1)))
    assert(!answeredFromManifest(filtered))
    assert(filtered.collect().head.getLong(0) == 19L)
    // groupBy → not pushed
    val grouped = dsv2("nation").groupBy(col("n_regionkey")).agg(count(lit(1)))
    assert(!answeredFromManifest(grouped))
    // min over a string column → footer stats not trusted, not pushed
    val strMin = dsv2("nation").agg(min(col("n_name")))
    assert(!answeredFromManifest(strMin))
    assert(strMin.collect().head.getString(0) == Snapshot.read(spark, root, "t1", "nation")
      .agg(min(col("n_name"))).collect().head.getString(0))
  }

  /** `df` exported as table `t` of a fresh root's tag `t1`, read back through DSv2. */
  private def exported(df: org.apache.spark.sql.DataFrame): (String, org.apache.spark.sql.DataFrame) = {
    val r = Files.createTempDirectory("snap_answer").toString
    Snapshot.export(spark, Map("t" -> df), r, "t1")
    r -> load(r)
  }

  private def load(r: String) = spark.read.format("graft.sources.SnapshotSource")
    .option("root", r).option("tag", "t1").option("table", "t").load()

  /** count, then min and max of every column, as one row. */
  private def bounds(df: org.apache.spark.sql.DataFrame) =
    df.agg(count(lit(1)), df.columns.flatMap(c => Seq(min(col(c)), max(col(c)))): _*)

  /** Rewrites table `t` of tag `t1` under `r` through `edit`. */
  private def editEntry(r: String)(edit: Snapshot.TableEntry => Snapshot.TableEntry): Unit = {
    val m = Snapshot.readManifest(spark, r, "t1")
    Snapshot.writeManifest(spark, r, m.copy(tables = m.tables + ("t" -> edit(m.tables("t")))))
  }

  test("an empty table is answered from the manifest: count 0, NULL bounds") {
    val (_, back) = exported(spark.range(0).select(col("id"), col("id").cast("int").as("i"),
      expr("date_add(DATE'1970-01-01', cast(id as int))").as("d")))
    val agg = bounds(back)
    assert(answeredFromManifest(agg), agg.queryExecution.executedPlan)
    val r = agg.collect().head
    assert(r.getLong(0) == 0L && (1 until r.length).forall(r.isNullAt), r)
  }

  test("min == max, negative numbers and pre-1970 dates are answered from the manifest") {
    val one = spark.range(5, 6).select(col("id"), (-col("id")).cast("int").as("i"))
    val (_, oneBack) = exported(one.repartition(1))
    assert(answeredFromManifest(bounds(oneBack)))
    assert(bounds(oneBack).collect().head == bounds(one).collect().head)
    val dated = spark.range(-3, 4, 1, 3).select((col("id") * -1000000000000L).as("l"),
      (col("id") * 70000).cast("int").as("i"),
      expr("date_add(DATE'1969-12-31', cast(id * 9000 as int))").as("d"))
    val (_, datedBack) = exported(dated)
    val agg = bounds(datedBack)
    assert(answeredFromManifest(agg), agg.queryExecution.executedPlan)
    val got = agg.collect().head
    assert(got.getDate(5).toLocalDate.getYear < 1970 && got.getLong(1) < 0 && got.getInt(3) < 0, got)
    assert(got == bounds(dated).collect().head)
  }

  test("a legacy entry with unsigned files is refused and answered by the row scan") {
    val df = spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 7).as("k"))
    val (r, _) = exported(df)
    editEntry(r)(e => e.copy(files = e.files.map(_.copy(signature = None))))
    val agg = bounds(load(r))
    assert(!answeredFromManifest(agg), agg.queryExecution.optimizedPlan)
    assert(agg.collect().head == bounds(df).collect().head)
  }

  test("a file without bounds for an aggregated column makes the pushdown refuse") {
    val df = spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 7).as("k"))
    val (r, _) = exported(df)
    // the file holding the smallest id loses its bounds for id only
    editEntry(r)(e => e.copy(files = e.files.map(f =>
      if (f.stats.get("id").exists(_.min == 0L)) f.copy(stats = f.stats - "id") else f)))
    val back = load(r)
    assert(Snapshot.readManifest(spark, r, "t1").tables("t").files.count(!_.stats.contains("id")) == 1)
    val idAgg = back.agg(min("id"), max("id"))
    assert(!answeredFromManifest(idAgg), idAgg.queryExecution.optimizedPlan)
    assert(idAgg.collect().head == df.agg(min("id"), max("id")).collect().head)
    // a column every file still bounds is answered
    assert(answeredFromManifest(back.agg(count(lit(1)), min("k"), max("k"))))
  }

  test("a join against an empty snapshot table plans a broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val (_, empty) = exported(spark.range(0).select(col("id").as("k")))
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the other side (8000 bytes) is over the threshold; the empty side is not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
    try {
      val joined = spark.range(0, 1000).join(empty, col("id") === col("k"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty, plan)
      assert(joined.collect().isEmpty)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("DSv2 write: create, append, truncate — manifest is the commit point") {
    val r = Files.createTempDirectory("snap_write").toString
    val src = Tables.nation(spark, sf)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    def write(mode: String): Unit =
      src.write.format("graft.sources.SnapshotSource")
        .option("root", r).option("tag", "g1").option("table", "nation_copy")
        .option("schema", src.schema.json)
        .mode(mode).save()
    def readBack = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "nation_copy").load()

    // create (append into a table that doesn't exist yet)
    write("append")
    assert(readBack.count() == 25)
    assert(readBack.exceptAll(src).count() == 0 && src.exceptAll(readBack).count() == 0,
      "round-trip must be value-exact")
    // append accumulates a second generation of files
    write("append")
    assert(readBack.count() == 50)
    val entryAfterAppend = Snapshot.readManifest(spark, r, "g1").tables("nation_copy")
    assert(entryAfterAppend.rows == 50)
    // overwrite truncates: manifest swaps to the new file set only
    write("overwrite")
    assert(readBack.count() == 25)
    val entry = Snapshot.readManifest(spark, r, "g1").tables("nation_copy")
    assert(entry.rows == 25)
    assert(entry.files.map(_.path).toSet.intersect(
      entryAfterAppend.files.map(_.path).toSet).isEmpty,
      "truncate commit must reference only the new generation's files")
    // commit protocol: orphaned pre-truncate files still on disk (swept
    // by retention, never by the writer) and absent from the manifest
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(entryAfterAppend.files.forall(f =>
      fs.exists(new org.apache.hadoop.fs.Path(f.path))))
  }

  test("DSv2 write round-trips the embeddings table (array<float>) value-exact") {
    val r = Files.createTempDirectory("snap_emb_w").toString
    val src = Tables.embeddings(spark, sf)
    src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "embeddings")
      .option("schema", src.schema.json).mode("append").save()
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "embeddings").load()
    assert(back.schema == src.schema)
    // element-exact equality, including vector order
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0,
      "embeddings must round-trip value-exact through the DSv2 sink")
  }

  test("DSv2 write round-trips nested struct/map/array-of-struct and binary") {
    val r = Files.createTempDirectory("snap_nested_w").toString
    val src = Tables.nation(spark, sf).select(
      col("n_nationkey"),
      struct(col("n_name").as("name"),
        array(col("n_regionkey"), col("n_regionkey") + 1).as("rks")).as("info"),
      map(col("n_name"), col("n_regionkey")).as("m"),
      array(struct(col("n_name").as("nm"))).as("aos"),
      // null complex values and binary bytes must survive the trip too
      when(col("n_nationkey") % 2 === 0, encode(col("n_name"), "UTF-8")).as("bin"),
      // the degenerate shapes: EMPTY array (present wrapper, zero
      // entries), null ELEMENTS inside an array, and a fully null array
      expr("filter(array(n_regionkey), x -> false)").as("empty_arr"),
      array(col("n_regionkey"), lit(null).cast("long")).as("arr_null_elem"),
      when(col("n_nationkey") % 3 === 0,
        array(col("n_regionkey"))).as("arr_or_null"))
    src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "nested")
      .option("schema", src.schema.json).mode("append").save()
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "nested").load()
    assert(back.schema == src.schema)
    // set operations reject MapType — compare on the entry-array form
    def cmp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("m", map_entries(col("m")))
    assert(cmp(back).exceptAll(cmp(src)).count() == 0 &&
      cmp(src).exceptAll(cmp(back)).count() == 0,
      "nested and binary columns must round-trip value-exact through the DSv2 sink")
  }

  test("DSv2 write rejects unsupported column types honestly") {
    // parquet has no interval type, and Spark's parquet writer refuses
    // it: the rejection must come on the driver, named, before any task
    val bad = Tables.nation(spark, sf)
      .select(col("n_nationkey"), expr("make_interval(0, 0, 0, n_regionkey)").as("iv"))
    val root = Files.createTempDirectory("snap_bad").toString
    val ((viaWriter, viaBuilder), jobs) = withJobCount {
      // through DataFrameWriter, Spark's analyzer refuses the interval
      // column before the sink is asked for a writer
      val w = intercept[org.apache.spark.sql.AnalysisException] {
        bad.write.format("graft.sources.SnapshotSource")
          .option("root", root).option("tag", "g1").option("table", "bad")
          .option("schema", bad.schema.json)
          .mode("append").save()
      }
      // a caller that asks the table for a writer directly meets the
      // sink's own check
      import scala.jdk.CollectionConverters._
      val opts = Map("root" -> root, "tag" -> "g1", "table" -> "bad", "schema" -> bad.schema.json)
      val provider = new graft.sources.SnapshotSource
      val table = provider.getTable(
        provider.inferSchema(new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts.asJava)),
        Array.empty, opts.asJava)
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "honest-rejection"
        override def schema(): org.apache.spark.sql.types.StructType = bad.schema
        override def options() = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      }
      val b = intercept[IllegalArgumentException] {
        table.asInstanceOf[graft.sources.SnapshotTable].newWriteBuilder(info)
      }
      (w, b)
    }
    assert(viaWriter.getMessage.contains("INTERVAL"), viaWriter.getMessage)
    assert(viaBuilder.getMessage.contains("snapshot table 'bad': column 'iv' has type interval") &&
      viaBuilder.getMessage.contains("parquet writer cannot store"), viaBuilder.getMessage)
    assert(jobs == 0, s"the rejection must come before any Spark job; $jobs ran")
    assert(!new java.io.File(s"$root/g1").exists(), "a rejected write must leave no files")
  }

  test("asOf option time-travels reads through the manifest chain") {
    val r = Files.createTempDirectory("snap_asof").toString
    val v1 = Tables.nation(spark, sf)
    val v2 = Tables.nation(spark, sf).where(col("n_regionkey") < 2)
    // sortable-tag history with a parent link, like production exports
    Snapshot.export(spark, Map("nation" -> v1), r, "2024-01-01")
    Snapshot.export(spark, Map("nation" -> v2), r, "2024-02-01",
      parent = Some("2024-01-01"))

    def readAsOf(asOf: String, tag: Option[String] = None) = {
      val b = spark.read.format("graft.sources.SnapshotSource")
        .option("root", r).option("table", "nation").option("asOf", asOf)
      tag.fold(b)(t => b.option("tag", t)).load()
    }
    // a timestamp between the two tags resolves to the older snapshot —
    // catalog mode (no tag) and parent-chain mode (from the head tag)
    assert(readAsOf("2024-01-15").count() == v1.count())
    assert(readAsOf("2024-01-15", Some("2024-02-01")).count() == v1.count())
    // an exact tag resolves to itself; the head sees the new data
    assert(readAsOf("2024-02-01").count() == v2.count())
    // historical reads see historical DATA, not just counts
    val old = readAsOf("2024-01-01")
    assert(old.exceptAll(v1).count() == 0 && v1.exceptAll(old).count() == 0)
    // nothing existed before the first tag — clear error, no empty scan
    val e1 = intercept[IllegalArgumentException](readAsOf("2023-12-31").count())
    assert(e1.getMessage.contains("no snapshot at or before"))
    // the library API resolves the same way
    assert(Snapshot.readAsOf(spark, r, "2024-01-15", "nation").count() == v1.count())
    // history is immutable: a time-travel handle can never be written
    val e2 = intercept[Exception] {
      v2.write.format("graft.sources.SnapshotSource")
        .option("root", r).option("table", "nation").option("asOf", "2024-01-15")
        .mode("append").save()
    }
    val chain = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(chain.contains("time travel"), chain)
    // a retention-swept parent breaks the chain with a NAMED error, not
    // a bare missing-file exception
    val f = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$r/2024-01-01"), true)
    val e3 = intercept[IllegalArgumentException](
      readAsOf("2024-01-15", Some("2024-02-01")).count())
    assert(e3.getMessage.contains("parent chain"), e3.getMessage)
  }

  test("a looping parent chain fails with a named cycle, not a hang") {
    val r = Files.createTempDirectory("snap_cycle").toString
    // corrupt catalog: mutual parents, both tags after the asOf point —
    // without a visited-set the resolver would spin forever
    Snapshot.writeManifest(spark, r,
      Snapshot.Manifest("2024-03-01", Some("2024-04-01"), Map.empty))
    Snapshot.writeManifest(spark, r,
      Snapshot.Manifest("2024-04-01", Some("2024-03-01"), Map.empty))
    val e = intercept[IllegalArgumentException](
      Snapshot.resolveAsOf(spark, r, "2024-01-15", Some("2024-04-01")))
    assert(e.getMessage.contains("cycles at"), e.getMessage)
    assert(e.getMessage.contains("2024-04-01"), e.getMessage)
    // a self-referential manifest is the 1-hop case of the same guard
    Snapshot.writeManifest(spark, r,
      Snapshot.Manifest("2024-05-01", Some("2024-05-01"), Map.empty))
    val e2 = intercept[IllegalArgumentException](
      Snapshot.resolveAsOf(spark, r, "2024-01-15", Some("2024-05-01")))
    assert(e2.getMessage.contains("cycles at"), e2.getMessage)
  }

  test("manifest stats prune whole files from the scan plan") {
    val r = Files.createTempDirectory("snap_prune").toString
    // 4 range-disjoint files → per-file n_nationkey ranges in the manifest
    Snapshot.export(spark, Map("nation" ->
      Tables.nation(spark, sf).repartitionByRange(4, col("n_nationkey"))), r, "t1")
    val entry = Snapshot.readManifest(spark, r, "t1").tables("nation")
    assert(entry.files.length == 4)
    assert(entry.files.forall(_.stats.contains("n_nationkey")),
      "export must harvest footer min/max for integer columns")

    def filesFor(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val b = new graft.sources.SnapshotScanBuilder(snapshotTable(entry))
      b.pushFilters(filters.toArray)
      plannedFiles(b.build().toBatch).length
    }
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    assert(filesFor() == 4, "no filter → all files planned")
    assert(filesFor(EqualTo("n_nationkey", 3L)) == 1,
      "point lookup must plan exactly the one file whose range covers it")
    assert(filesFor(GreaterThan("n_nationkey", 1000L)) == 0,
      "out-of-range predicate must plan zero files")
    // end-to-end: the pruned scan still returns exact results
    val one = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "t1").option("table", "nation").load()
      .where(col("n_nationkey") === 3)
    assert(one.count() == 1)
    assert(one.queryExecution.executedPlan.toString.contains("skippedByStats=3"))
  }

  test("Snapshot.read plans only the files whose manifest stats admit a point key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val r = Files.createTempDirectory("snap_read_prune").toString
    val lineitem = Tables.lineitem(spark, sf)
    Snapshot.export(spark, Map("lineitem" -> lineitem.repartitionByRange(8, col("l_orderkey"))), r, "t1")
    val files = Snapshot.readManifest(spark, r, "t1").tables("lineitem").files
    assert(files.size == 8)
    val k = lineitem.agg(max("l_orderkey")).collect().head.getLong(0) / 2
    val admit = files.filter(f => f.stats("l_orderkey").min <= k && k <= f.stats("l_orderkey").max)
    assert(admit.nonEmpty && admit.size < files.size)
    val hit = Snapshot.read(spark, r, "t1", "lineitem").where(col("l_orderkey") === k)
    val scanned = new AdaptiveSparkPlanHelper {}.collect(hit.queryExecution.executedPlan) {
      case b: BatchScanExec => plannedFiles(b.batch)
    }.flatten
    assert(scanned.sorted == admit.map(_.path).sorted)
    assert(hit.count() == lineitem.where(col("l_orderkey") === k).count())
  }

  test("a file larger than maxPartitionBytes reads in several splits, every row once") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val r = Files.createTempDirectory("snap_split").toString
    val src = spark.range(0, 200000, 1, 1).select(col("id"), (col("id") * 7 % 1000).as("v"))
    // several row groups, so that each split has its own rows to read
    spark.conf.set("parquet.block.size", (128 * 1024).toString)
    try Snapshot.export(spark, Map("t" -> src), r, "t1")
    finally spark.conf.unset("parquet.block.size")
    val files = Snapshot.readManifest(spark, r, "t1").tables("t").files
    assert(files.size == 1)
    val file = files.head
    spark.conf.set("spark.sql.files.maxPartitionBytes", (64 * 1024).toString)
    try {
      assert(file.size > 4 * 64 * 1024, s"file of ${file.size} bytes")
      Seq(Snapshot.read(spark, r, "t1", "t"), spark.read.format("graft.sources.SnapshotSource")
        .option("root", r).option("tag", "t1").option("table", "t").load()).foreach { df =>
        val splits = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
          case b: BatchScanExec => b.batch.planInputPartitions().toSeq
        }.flatten
        assert(splits.size > 1, s"${splits.size} splits")
        assert(df.count() == 200000)
        assert(df.exceptAll(src).isEmpty && src.exceptAll(df).isEmpty)
      }
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("DSv2-written files carry manifest stats and prune") {
    val r = Files.createTempDirectory("snap_wstats").toString
    val src = Tables.nation(spark, sf)
      .repartitionByRange(4, col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"))
    src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "n")
      .option("schema", src.schema.json).mode("append").save()
    val entry = Snapshot.readManifest(spark, r, "g1").tables("n")
    assert(entry.files.nonEmpty)
    assert(entry.files.forall(_.stats.contains("n_nationkey")))
    // the same rows exported: both paths take a file's stats from its
    // footer, so the per-file n_nationkey ranges agree as a multiset
    Snapshot.export(spark, Map("n" -> src), r, "e1")
    def keyStats(e: Snapshot.TableEntry) = e.files.map(_.stats("n_nationkey")).sortBy(s => (s.min, s.max))
    assert(keyStats(entry) == keyStats(Snapshot.readManifest(spark, r, "e1").tables("n")))
    val hit = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "n").load()
      .where(col("n_nationkey") === 7)
    assert(hit.count() == 1)
    assert(hit.queryExecution.executedPlan.toString.contains("skippedByStats"),
      "written files must participate in stats pruning")
  }

  test("optimize flips a scatter layout to a prunable range layout") {
    val df = q("q_snapshot_optimize")
    assert(df.count() == 1)
    // the optimized (gen2) layout prunes a point predicate to one file,
    // while the scattered gen1 layout cannot prune at all
    // the memoized root for (this session, this sf dir)
    val root = graft.operators.Scans.optimizeRoots((graft.SessionToken(spark), sf))
    def filesFor(tag: String): Int = {
      val entry = Snapshot.readManifest(spark, root, tag).tables("orders_opt")
      val b = new graft.sources.SnapshotScanBuilder(snapshotTable(entry))
      b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("o_orderkey", 42L)))
      plannedFiles(b.build().toBatch).length
    }
    assert(filesFor("gen1") == 8, "scattered layout: every file may hold the key")
    assert(filesFor("gen2") == 1, "optimized layout: exactly one file can")
    // generations carry identical data
    def readTag(tag: String) = spark.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", tag).option("table", "orders_opt").load()
    assert(readTag("gen1").exceptAll(readTag("gen2")).count() == 0)
    assert(readTag("gen2").exceptAll(readTag("gen1")).count() == 0)
  }

  test("decimal columns round-trip through the DSv2 writer and reader") {
    val r = Files.createTempDirectory("snap_dec").toString
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price18"),
        (col("o_orderkey") % 1000).cast("decimal(7,2)").as("small7"))
    src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "dec")
      .option("schema", src.schema.json).mode("append").save()
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "dec").load()
    assert(back.schema("price18").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    assert(back.schema("small7").dataType ==
      org.apache.spark.sql.types.DecimalType(7, 2))
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("vacuum sweeps generations orphaned by truncate commits") {
    val r = Files.createTempDirectory("snap_vac").toString
    val src = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    def write(): Unit = src.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "n")
      .option("schema", src.schema.json).mode("overwrite").save()
    write()
    val firstGen = Snapshot.readManifest(spark, r, "g1").tables("n").files.map(_.path)
    write() // truncate commit: firstGen files now orphaned on disk
    val fs = new org.apache.hadoop.fs.Path(r)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(firstGen.forall(p => fs.exists(new org.apache.hadoop.fs.Path(p))),
      "truncate must leave previous generation on disk")
    val deleted = Snapshot.vacuum(spark, r)
    assert(deleted.map(p => p.split('/').last).sorted ==
      firstGen.map(p => p.split('/').last).sorted,
      s"vacuum must delete exactly the orphaned generation, got $deleted")
    // live generation untouched and readable
    val live = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "n").load()
    assert(live.count() == 25)
    assert(Snapshot.vacuum(spark, r).isEmpty, "vacuum is idempotent")
  }

  test("missing table and missing options fail with clear errors") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", "t1").option("table", "nope").load()
    }
    assert(e.getMessage.contains("nope"))
    intercept[Exception] {
      spark.read.format("graft.sources.SnapshotSource").option("root", root).load()
    }
    // a READ of a missing table must fail even when a schema option is
    // present (the write-creation channel) — never a silent empty scan
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", "t1").option("table", "nope")
        .option("schema", Tables.nation(spark, sf).schema.json).load()
        .count()
    }
    val chain2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(chain2.contains("write target"), chain2)
  }

  test("parallel appends in one JVM keep both manifest entries (commit lock)") {
    // SnapshotBatchWrite.commitLock serializes the manifest
    // read-modify-write; without it one of two racing commits would
    // read the pre-image and drop the other's table entry. Two tables
    // written concurrently into one snapshot must BOTH be readable.
    val r = Files.createTempDirectory("snap_par").toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq("nation" -> Tables.nation(spark, sf),
                     "region" -> Tables.region(spark, sf)).map { case (t, df) =>
      Future {
        df.write.format("graft.sources.SnapshotSource")
          .option("root", r).option("tag", "g1").option("table", t)
          .option("schema", df.schema.json).mode("append").save()
      }
    }
    Await.result(Future.sequence(writes), 120.seconds)
    def count(t: String) = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", t).load().count()
    assert(count("nation") == Tables.nation(spark, sf).count())
    assert(count("region") == Tables.region(spark, sf).count())
  }

  test("a zero-row write commits a readable empty table, not a phantom") {
    // Lazy per-partition writers mean an all-empty dataframe produces
    // ZERO part files; the commit must still record the table so a
    // reader sees an empty result with the right schema — not a
    // missing-table error, and not a crash on an empty file list.
    val r = Files.createTempDirectory("snap_zero").toString
    val none = Tables.nation(spark, sf).where(col("n_nationkey") < 0)
    none.write.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "nation")
      .option("schema", none.schema.json)
      .mode("append").save()
    val back = spark.read.format("graft.sources.SnapshotSource")
      .option("root", r).option("tag", "g1").option("table", "nation").load()
    assert(back.schema == none.schema)
    assert(back.count() == 0)
  }

  test("a sequentially reused provider instance never serves a stale resolution") {
    // The stock format(...).load() path builds a fresh TableProvider per
    // load, but the class must stay correct if one instance is cached
    // across queries (SnapshotSource invariant: getTable TAKES the memo,
    // so the next load on the same instance re-resolves). The sharpest
    // stale case: a load memoizes None for a table that does not exist
    // yet, the table is then created, and a second load on the SAME
    // instance must see it.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val r = Files.createTempDirectory("snap_reuse").toString
    val nation = Tables.nation(spark, sf)
    val optMap = new java.util.HashMap[String, String]
    optMap.put("root", r); optMap.put("tag", "g1"); optMap.put("table", "nation")
    optMap.put("schema", nation.schema.json) // the write-creation channel
    val options = new CaseInsensitiveStringMap(optMap)

    val provider = new graft.sources.SnapshotSource
    // load 1 (Spark's call order): inferSchema memoizes the resolution,
    // getTable consumes it — the snapshot doesn't exist, so this is a
    // write-target handle with no files
    val schema1 = provider.inferSchema(options)
    val t1 = provider.getTable(schema1, Array.empty, optMap)
      .asInstanceOf[graft.sources.SnapshotTable]
    assert(!t1.existed && t1.files.isEmpty)

    // the catalog mutates between loads: the table is exported
    Snapshot.export(spark, Map("nation" -> nation), r, "g1")

    // load 2 on the SAME instance: both calls must see the new manifest
    // (a retained memo would replay None → a phantom write target)
    val schema2 = provider.inferSchema(options)
    val t2 = provider.getTable(schema2, Array.empty, optMap)
      .asInstanceOf[graft.sources.SnapshotTable]
    assert(t2.existed, "second load on a reused instance must see the created table")
    assert(t2.files.nonEmpty && t2.rows == nation.count())
  }

  test("getTable leaves another thread's in-flight resolution untouched (conditional take)") {
    // T1 pauses between its inferSchema and getTable (Spark runs both
    // synchronously, but another load can interleave on a SHARED
    // provider instance). The main thread then runs an external-metadata
    // load on the same coords — getTable without inferSchema. It must
    // NOT consume T1's memoized resolution: if it did, a manifest
    // re-export landing before T1's getTable would make T1 re-resolve
    // and pair its already-returned schema with the NEW manifest's file
    // list — the exact mispair the memo exists to prevent.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val r = Files.createTempDirectory("snap_threads").toString
    try {
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("nation" -> nation), r, "g1") // manifest M1
    val m1Rows = nation.count()
    val optMap = new java.util.HashMap[String, String]
    optMap.put("root", r); optMap.put("tag", "g1"); optMap.put("table", "nation")
    val options = new CaseInsensitiveStringMap(optMap)
    val provider = new graft.sources.SnapshotSource

    val afterInfer = new java.util.concurrent.CountDownLatch(1)
    val proceed = new java.util.concurrent.CountDownLatch(1)
    val t1Table = new java.util.concurrent.atomic.AtomicReference[graft.sources.SnapshotTable]
    val t1 = new Thread(() => {
      val sch = provider.inferSchema(options) // memoizes M1, stamped with T1's id
      afterInfer.countDown()
      proceed.await()
      t1Table.set(provider.getTable(sch, Array.empty, optMap)
        .asInstanceOf[graft.sources.SnapshotTable])
    })
    t1.start()
    afterInfer.await()

    // main thread: external-metadata load (skips inferSchema) — resolves
    // fresh for itself and must leave T1's entry in place
    val tMain = provider.getTable(nation.schema, Array.empty, optMap)
      .asInstanceOf[graft.sources.SnapshotTable]
    assert(tMain.rows == m1Rows)

    // the catalog mutates: a re-export replaces M1 with a 10-row M2
    Snapshot.export(spark, Map("nation" -> nation.limit(10)), r, "g1")

    proceed.countDown()
    t1.join()
    assert(t1Table.get.rows == m1Rows,
      s"T1 must materialize ITS memoized M1 resolution (${m1Rows} rows), " +
        s"not re-resolve the re-exported M2 (got ${t1Table.get.rows})")
    } finally SessionToken.deleteDir(r) // leave no litter
  }

  test("a failed inferSchema leaves no memo orphan for a later same-thread load") {
    // Failure path: inferSchema on a table that is NOT in the snapshot
    // (no schema option) throws AFTER manifestFor memoized the
    // resolution. The entry must be cleared on the way out — otherwise
    // a later external-metadata load on the SAME thread would consume
    // it and pair a fresh schema with the stale manifest's file list.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val r = Files.createTempDirectory("snap_orphan").toString
    try {
      val nation = Tables.nation(spark, sf)
      Snapshot.export(spark, Map("nation" -> nation), r, "g1") // M1: nation only
      val optMap = new java.util.HashMap[String, String]
      optMap.put("root", r); optMap.put("tag", "g1"); optMap.put("table", "region")
      val provider = new graft.sources.SnapshotSource
      intercept[IllegalArgumentException] {
        provider.inferSchema(new CaseInsensitiveStringMap(optMap)) // region absent, no schema opt
      }
      // the catalog mutates: M2 now CONTAINS region (10 rows)
      val region10 = Tables.region(spark, sf).limit(10)
      Snapshot.export(spark, Map("nation" -> nation, "region" -> region10), r, "g1")
      // same-thread external-metadata load (skips inferSchema): with a
      // surviving orphan it would serve M1 (no region → phantom write
      // target); it must resolve fresh and see M2's region
      val t = provider.getTable(region10.schema, Array.empty, optMap)
        .asInstanceOf[graft.sources.SnapshotTable]
      assert(t.existed && t.rows == region10.count(),
        s"failed inferSchema must not leave a memo orphan (got existed=${t.existed}, rows=${t.rows})")
    } finally SessionToken.deleteDir(r)
  }
}
