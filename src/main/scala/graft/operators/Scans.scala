package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.1 scans/sources. The reference's own surface is snapshot-file
  * movement (SURVEY §0.1); its batch-queryable face here is plain
  * parquet scans whose filters/projections Catalyst pushes into the
  * vectorized reader (`PushedFilters`/`ReadSchema` asserted in
  * ScanPushdownSpec).
  */
object Scans {

  /** Full-scan aggregate over lineitem: exercises the vectorized
    * parquet reader end-to-end with only 3 columns materialized.
    */
  def scanParquet(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("n_rows"),
      dbl(sum(dec("l_quantity"))).as("total_qty"),
      countDistinct(col("l_orderkey")).as("n_orders"))

  /** Column pruning + predicate pushdown: the scan must read only the
    * projected columns and skip row groups via the shipdate/quantity
    * min-max stats. At 100 TB this is the difference between reading
    * 3 columns of late data and the whole table.
    */
  def scanPruned(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("2000-01-01").cast("timestamp")
        && col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_linenumber"), dbl(dec("l_quantity")).as("qty"))
      .orderBy("l_orderkey", "l_linenumber")

  /** JSON-string source column: parse `events.props` into a typed int.
    *
    * try_cast, not cast (r19, corrupt-JSON probe): get_json_object
    * already nulls a MALFORMED document, but a wrong-TYPED value —
    * `{"k": "abc"}`, valid JSON, invalid int, routine in real event
    * props — reaches the cast as the string "abc", and under ANSI one
    * such row kills the whole scan ([CAST_INVALID_INPUT]). An
    * untypeable value is an honest NULL k instead; identical to cast
    * on every parseable value, oracle-mirrored with DuckDB TRY_CAST.
    */
  def sourceJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_id"),
        col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k"))
      .orderBy("event_id")

  /** Round-trip through the snapshot pipeline (graft.sources.Snapshot):
    * export nation+region to a fresh manifest'd snapshot, read both
    * back via the manifest file list, join and project. Values must be
    * byte-identical to reading the originals — which is exactly what
    * the oracle checks.
    */
  def snapshotRead(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_snap").toString
    graft.sources.Snapshot.export(s,
      Map("nation" -> Tables.nation(s, dir), "region" -> Tables.region(s, dir)),
      root, "tag1", None)
    val n = graft.sources.Snapshot.read(s, root, "tag1", "nation")
    val r = graft.sources.Snapshot.read(s, root, "tag1", "region")
    n.join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  /** Same pipeline through the DataSource V2 face
    * (graft.sources.SnapshotSource): export documents to a snapshot,
    * read it back via spark.read.format(...), aggregate. Exercises the
    * custom TableProvider → ScanBuilder → per-file PartitionReader
    * path with manifest-supplied schema.
    */
  def snapshotDsv2(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_snap_v2").toString
    graft.sources.Snapshot.export(s,
      Map("documents" -> Tables.documents(s, dir)), root, "tag1", None)
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "tag1").option("table", "documents").load()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** CSV source round-trip: write an orders projection as headered
    * CSV, read it back with an explicit schema (no inference scan),
    * aggregate. Values must survive the text round-trip exactly.
    */
  def sourceCsv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType), StructField("o_orderstatus", StringType)))
    s.read.schema(schema).option("header", "true").csv(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec("o_totalprice"))).as("total"))
      .orderBy("o_orderstatus")
  }

  /** §2.14 (round-4, session 3) schema-evolution scan: generation 1 is
    * written WITHOUT the status column, generation 2 WITH it — the
    * add-a-column lakehouse migration — and one mergeSchema read
    * reconciles both (old rows surface NULL status). The aggregate
    * separates the generations by nullness, proving no row was
    * dropped or misaligned. At 100 TB this is why readers must carry
    * the union schema: rewriting history for every added column is a
    * full-table write. Parquet resolves columns BY NAME per footer,
    * so mixed-generation directories stay one scan (footer-only
    * planning), not a per-file dispatch.
    */
  private val evolveRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def scanSchemaMerge(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(evolveRoots)(graft.SessionToken.deleteDir)
    val tmp = evolveRoots.getOrElseUpdate((graft.SessionToken(s), dir), {
      val r = java.nio.file.Files.createTempDirectory("graft_evolve").toString
      val o = Tables.orders(s, dir)
      o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$r/g=1")
      o.where(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$r/g=2")
      r
    })
    s.read.option("mergeSchema", "true").parquet(s"$tmp/g=1", s"$tmp/g=2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-migration>")).as("status"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec("o_totalprice"))).as("total"))
      .orderBy("status")
  }

  /** §2.13 (round-4) raw text-format round-trip: documents serialized
    * as tab-separated lines through the `text` format (one string
    * column — the shape raw corpus dumps arrive in), read back and
    * re-parsed with a bounded split. The corpus is tab/newline-free
    * (FIXTURES.md), so the framing is lossless; the parse is a
    * codegen'd projection, and the aggregate proves the parsed columns
    * are intact. At corpus scale this is the "ingest raw text shards"
    * entry path; line-splittable text files parallelize per HDFS
    * block like any splittable source.
    */
  def sourceText(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_text").toString
    Tables.documents(s, dir)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(tmp)
    val parts = split(col("value"), "\t", 3)
    s.read.text(tmp)
      .select(
        parts.getItem(0).cast("long").as("doc_id"),
        parts.getItem(1).as("lang"),
        parts.getItem(2).as("text"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy("lang")
  }

  /** JSON-lines source round-trip: same shape through the json format. */
  def sourceJsonl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).json(tmp)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec("o_totalprice"))).as("total"))
      .orderBy("o_orderpriority")
  }

  /** ORC source round-trip (the third columnar format the engine
    * writes/reads natively). The oracle runs over the original
    * parquet — DuckDB never needs to read ORC.
    */
  def sourceOrc(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        dbl(sum(dec("o_totalprice"))).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Partitioned-write + pruned-read round-trip: orders written
    * hive-partitioned by priority, read back with a partition
    * predicate. The filter must resolve at PLANNING time (partition
    * directory pruning — the scan never opens non-matching
    * partitions), which at 100 TB is the difference between listing
    * one directory and scanning the table. Values must survive the
    * round-trip exactly, which is what the oracle checks.
    */
  def writePartitioned(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    val slice = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    slice.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    // explicit read schema: skips footer-sampling inference (at 100 TB
    // a real listing+IO cost) and keeps a ZERO-ROW round-trip legal —
    // inference over an empty partitioned write has no footer to read
    // and throws UNABLE_TO_INFER_SCHEMA (EmptyInputSweepSpec, r13)
    s.read.schema(slice.schema).parquet(tmp)
      .where(col("o_orderpriority") === "1-URGENT")
      .agg(
        count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        dbl(sum(dec("o_totalprice"))).as("total"))
  }

  /** §2.13 (round-4) dynamic partition pruning: the partitioned fact is
    * joined ON ITS PARTITION COLUMN against a dimension whose filter
    * (`cls = '1'`) only exists at runtime — the dim is a distinct-agg
    * over the raw table, so no static partition predicate is derivable
    * at planning time. Spark broadcasts the filtered dim and re-uses
    * the broadcast as an IN-subquery partition filter on the fact scan
    * (`PartitionFilters: [... dynamicpruning#...]`, asserted in
    * RelationalSpec): only the matching partition directories are ever
    * listed or opened. At 100 TB with a date-partitioned fact this is
    * the star-schema pattern that turns "scan the table" into "scan
    * the quarter the dim filter selected". The oracle states the
    * equivalent static semantics (dim-join on distinct keys ≡ filter).
    */
  // value carries the write's schema too (ADVICE r13): on a cache hit
  // the read needs only the schema, and deriving it fresh re-plans a
  // Tables.orders scan (listing + footer work) on the bench hot path
  private val dppRoots =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, org.apache.spark.sql.types.StructType)]

  def scanDpp(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(dppRoots) { case (p, _) => graft.SessionToken.deleteDir(p) }
    val (root, factSchema) = dppRoots.getOrElseUpdate((graft.SessionToken(s), dir), {
      val factSlice = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val r = java.nio.file.Files.createTempDirectory("graft_dpp").toString
      factSlice.write.mode("overwrite").partitionBy("o_orderpriority").parquet(r)
      (r, factSlice.schema)
    })
    // explicit schema for the same two reasons as writePartitioned:
    // no inference IO, and a zero-row source stays readable
    val fact = s.read.schema(factSchema).parquet(root)
    val dim = Tables.orders(s, dir)
      .select(col("o_orderpriority")).distinct()
      .withColumn("cls", substring(col("o_orderpriority"), 1, 1))
    fact.join(dim.where(col("cls") === "1"), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        dbl(sum(dec("o_totalprice"))).as("total"))
      .orderBy("o_orderpriority")
  }

  /** §2.13 (round-4) DSv2 WRITE round-trip: a filtered orders slice is
    * written through `SnapshotSource`'s BatchWrite — executors emit
    * immutable part files, the driver commit is ONE manifest swap (no
    * renames; the object-storage-safe protocol) — then read back
    * through the same source's scan and aggregated. Overwrite mode
    * exercises the truncate path, so repeated runs are idempotent.
    * The oracle states the slice semantics directly over orders.
    */
  private val writeRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def snapshotWrite(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(writeRoots)(graft.SessionToken.deleteDir)
    val root = writeRoots.getOrElseUpdate((graft.SessionToken(s), dir),
      java.nio.file.Files.createTempDirectory("graft_dsv2_write").toString)
    val slice = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice").as("price"))
    slice.write.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "gen1").option("table", "orders_slice")
      .option("schema", slice.schema.json)
      .mode("overwrite").save()
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "gen1").option("table", "orders_slice").load()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        dbl(sum(col("price").cast("decimal(18,2)"))).as("total"))
      .orderBy("o_orderstatus")
  }

  /** §2.13 (round-4) table OPTIMIZE — the layout-maintenance operator
    * (Delta OPTIMIZE / Iceberg rewrite_data_files shape): generation 1
    * is written hash-scattered (every file spans the full key range, so
    * manifest stats prune nothing); the optimize pass rewrites it
    * range-clustered on the key through the same DSv2 writer, and the
    * truncate commit swaps the manifest to the new layout. After the
    * rewrite each file owns a disjoint key range, so a point/range
    * predicate plans a single file instead of all of them —
    * SnapshotSourceSpec measures exactly that flip. Data is
    * bit-identical across generations (the oracle checks values, the
    * spec checks pruning). At 100 TB this is the nightly job that keeps
    * a write-optimized table read-optimized.
    */
  private[graft] val optimizeRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def snapshotOptimize(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(optimizeRoots)(graft.SessionToken.deleteDir)
    val root = optimizeRoots.getOrElseUpdate((graft.SessionToken(s), dir),
      java.nio.file.Files.createTempDirectory("graft_optimize").toString)
    val src = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def writeAs(df: DataFrame, tag: String): Unit =
      df.write.format("graft.sources.SnapshotSource")
        .option("root", root).option("tag", tag).option("table", "orders_opt")
        .option("schema", src.schema.json)
        .mode("overwrite").save()
    // gen1: write-optimized layout (hash-scattered, 8 files)
    writeAs(src.repartition(8), "gen1")
    val gen1 = s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "gen1").option("table", "orders_opt").load()
    // optimize: rewrite range-clustered on the key, 4 target files
    writeAs(gen1.repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"), "gen2")
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "gen2").option("table", "orders_opt").load()
      .where(col("o_orderkey") < 1000)
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        dbl(sum(col("o_totalprice").cast("decimal(18,2)"))).as("total"))
  }

  /** §2.13 (round-4) vacuum round-trip: two truncate commits orphan the
    * first generation's files, `Snapshot.vacuum` sweeps exactly the
    * unreferenced ones, and the surviving generation reads back intact
    * — the GC half of the metadata-pointer commit protocol
    * (q_snapshot_write/optimize create orphans; this proves they're
    * reclaimable without touching live data). The oracle states the
    * slice semantics; the vacuumed count is asserted in-query by
    * joining it into the projection (files_swept > 0 after a rewrite).
    */
  private val vacuumRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def snapshotVacuum(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(vacuumRoots)(graft.SessionToken.deleteDir)
    val root = vacuumRoots.getOrElseUpdate((graft.SessionToken(s), dir),
      java.nio.file.Files.createTempDirectory("graft_vacuum").toString)
    val slice = Tables.orders(s, dir)
      .where(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_totalprice"))
    def write(): Unit = slice.write.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "g1").option("table", "orders_f")
      .option("schema", slice.schema.json).mode("overwrite").save()
    write(); write() // second truncate orphans the first generation
    val swept = graft.sources.Snapshot.vacuum(s, root).length
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "g1").option("table", "orders_f").load()
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        dbl(sum(col("o_totalprice").cast("decimal(18,2)"))).as("total"))
      .withColumn("swept_some", lit(swept > 0))
  }

  /** Metadata-only aggregation through the DSv2 source: count/min/max
    * answered from the snapshot manifest's signed row counts and column
    * bounds (SupportsPushDownAggregates with complete pushdown — the
    * plan is a local scan of the one answer row, and no file is read).
    * The oracle recomputes the same aggregates the honest way.
    */
  // exported once per (session, sfDir) — plan-only consumers must not
  // re-export or leak another snapshot copy. Keyed on sessionUUID (a
  // stable unique token): identityHashCode can alias a new session
  // after the old one is GC'd and serve it the wrong snapshot root.
  private val aggSnapRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def snapshotAgg(s: SparkSession, dir: String): DataFrame = {
    // reclaim snapshot exports of dead (GC'd) sessions — see joinBucketed
    graft.SessionToken.sweep(aggSnapRoots)(graft.SessionToken.deleteDir)
    val root = aggSnapRoots.getOrElseUpdate((graft.SessionToken(s), dir), {
      val r = java.nio.file.Files.createTempDirectory("graft_snap_agg").toString
      graft.sources.Snapshot.export(s,
        Map("orders" -> Tables.orders(s, dir)), r, "tag1", None)
      r
    })
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "tag1").option("table", "orders").load()
      .agg(
        count(lit(1)).as("n"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** §2.13 (round-4) array columns through the DSv2 snapshot source:
    * the embeddings table (array<float>, dim 64) exported once,
    * re-read through SnapshotSource (Spark's parquet reader decodes the
    * 3-level LIST), then ranked by L2 norm through the codegen'd
    * float_dot expression — proving the
    * custom source feeds vector operators. The oracle computes the same norms over the fixture
    * table directly (the snapshot is an exact copy).
    */
  private val embedSnapRoots = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  def snapshotEmbed(s: SparkSession, dir: String): DataFrame = {
    graft.SessionToken.sweep(embedSnapRoots)(graft.SessionToken.deleteDir)
    val root = embedSnapRoots.getOrElseUpdate((graft.SessionToken(s), dir), {
      val r = java.nio.file.Files.createTempDirectory("graft_snap_emb").toString
      graft.sources.Snapshot.export(s,
        Map("embeddings" -> Tables.embeddings(s, dir)), r, "tag1", None)
      r
    })
    s.read.format("graft.sources.SnapshotSource")
      .option("root", root).option("tag", "tag1").option("table", "embeddings").load()
      .select(col("vec_id"), col("label"),
        dbl(expr("CAST(sqrt(float_dot(embedding, embedding)) AS DECIMAL(12,6))")).as("norm"))
      .orderBy(col("norm").desc, col("vec_id"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_snapshot_embed" -> snapshotEmbed,
    "q_snapshot_agg" -> snapshotAgg,
    "q_write_partitioned" -> writePartitioned,
    "q_scan_dpp" -> scanDpp,
    "q_snapshot_write" -> snapshotWrite,
    "q_snapshot_optimize" -> snapshotOptimize,
    "q_snapshot_vacuum" -> snapshotVacuum,
    "q_scan_parquet" -> scanParquet,
    "q_source_csv" -> sourceCsv,
    "q_scan_schema_merge" -> scanSchemaMerge,
    "q_source_text" -> sourceText,
    "q_source_jsonl" -> sourceJsonl,
    "q_source_orc" -> sourceOrc,
    "q_scan_pruned" -> scanPruned,
    "q_source_json" -> sourceJson,
    "q_snapshot_read" -> snapshotRead,
    "q_snapshot_dsv2" -> snapshotDsv2
  )

  val oracle: Map[String, String] = Map(
    "q_scan_schema_merge" ->
      """WITH evolved AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT coalesce(o_orderstatus, '<pre-migration>') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM evolved GROUP BY 1 ORDER BY status""".stripMargin,
    "q_source_text" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q_snapshot_embed" ->
      """SELECT vec_id, label,
        |  CAST(CAST(sqrt(list_aggregate(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS DECIMAL(12,6)) AS DOUBLE) AS norm
        |FROM embeddings
        |ORDER BY norm DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q_snapshot_agg" ->
      """SELECT count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,
    "q_snapshot_vacuum" ->
      """SELECT count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  TRUE AS swept_some
        |FROM orders
        |WHERE o_orderstatus = 'F'""".stripMargin,
    "q_snapshot_optimize" ->
      """SELECT count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  max(o_orderkey) AS max_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey < 1000""".stripMargin,
    "q_snapshot_write" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_scan_dpp" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE substring(o_orderpriority, 1, 1) = '1'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_write_partitioned" ->
      """SELECT count(*) AS n,
        |  min(o_orderkey) AS min_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "q_scan_parquet" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "q_scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_source_json" ->
      """SELECT event_id, event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_source_csv" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_source_jsonl" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_source_orc" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q_snapshot_read" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q_snapshot_dsv2" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin
  )
}
