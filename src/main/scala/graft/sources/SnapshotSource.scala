package graft.sources

import java.util

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, GraftPartitionShim, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetToSparkSchemaConverter, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 face of the snapshot store — the "custom source" of
  * the project north-star: `spark.read.format("graft.sources.SnapshotSource")
  * .option("root", …).option("tag", …).option("table", …)`, and the one
  * reader of every snapshot entry: [[Snapshot.read]], [[Snapshot.readAsOf]]
  * and [[SnapshotCatalog]] read through the same [[SnapshotTable]].
  *
  * The manifest supplies the schema (no footer sniffing on the
  * driver) and plans the scan: files whose manifest stats or partition
  * values cannot match the predicates are skipped, and the rest are
  * split and packed into input partitions as Spark's own file scans
  * pack them. The rows themselves come from Spark's own
  * parquet reader (`ParquetPartitionReaderFactory`): column pruning,
  * row-group filtering, vectorized decode and missing-file errors are
  * Spark's, so the column types this source reads are exactly the ones
  * Spark's parquet reader reads. Writes go through Spark's own parquet
  * writer the same way (see [[SnapshotDataWriter]]), so a DSv2-appended
  * file is encoded exactly as an exported one.
  */
class SnapshotSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  private def coords(options: CaseInsensitiveStringMap): (String, String, String) = {
    val root = options.get("root")
    val tag = options.get("tag")
    val asOf = options.get("asOf")
    val table = options.get("table")
    require(root != null && table != null && (tag != null || asOf != null),
      "options root, table and one of tag/asOf are required")
    // tag/table become path segments under root; a slashed or
    // traversal-shaped value on a WRITE commits a manifest listTags
    // never sees — whose files vacuum then sweeps as orphans (the
    // catalog path has always rejected these; the options path must
    // too). Guarded here, the single coords chokepoint, so reads get
    // the same loud error instead of a confusing FileNotFound. asOf is
    // a comparison string, not a path — unguarded by design.
    if (tag != null) Snapshot.requireSafeSegment("snapshot tag", tag)
    Snapshot.requireSafeSegment("snapshot table name", table)
    (root, tag, table)
  }

  /** The table the options name, built by [[SnapshotTable.of]] from
    * the exact `tag`'s manifest, or — with `asOf` — from the snapshot in
    * effect at that point (parent-chain walk from `tag` when both are
    * given, newest catalog tag <= asOf otherwise). An asOf table is
    * read-only and carries the resolved tag. No manifest yet is a valid
    * state only for a WRITE creating a new table.
    *
    * Memoized per provider instance, keyed on (root, tag, asOf): Spark
    * calls inferSchema and then getTable on the SAME instance for one
    * load, so both see ONE resolution — the manifest is read and the
    * table built once per load, and a catalog change landing between
    * the two calls cannot pair one snapshot's schema with another
    * snapshot's file list.
    *
    * HARD INVARIANT — memo lifetime is ONE load, so a sequentially
    * reused instance (catalog registration) never serves a stale
    * manifest: (1) inferSchema always re-resolves and overwrites;
    * (2) entries are stamped with the resolving thread id, and getTable
    * TAKES (atomic remove-and-use) only a same-thread entry, leaving
    * other threads' in-flight entries in place — one load's
    * inferSchema→getTable runs synchronously on one thread, so an
    * external-metadata load (which skips inferSchema) can never swallow
    * another load's entry; (3) a throwing inferSchema clears its own
    * entry. CONCURRENT loads sharing one instance while the catalog
    * mutates are NOT protected — Spark hands getTable the schema
    * separately from this resolution — and need one provider per load,
    * as the stock path guarantees ([[SnapshotCatalog]] resolves fresh
    * per loadTable call).
    */
  private val resolved = mutable.Map.empty[(String, String, String), (Long, SnapshotTable)]

  private def key(options: CaseInsensitiveStringMap) = {
    val (root, tag, _) = coords(options)
    (root, tag, options.get("asOf"))
  }

  /** One un-memoized resolution. The session is captured HERE, on the
    * loading thread: builder and commit callbacks run on Spark-internal
    * threads where `SparkSession.active` can name another session.
    */
  private def resolve(options: CaseInsensitiveStringMap): SnapshotTable = {
    val (root, tag, table) = coords(options)
    val asOf = Option(options.get("asOf"))
    val m = asOf match {
      case Some(a) => Some(Snapshot.resolveAsOf(SparkSession.active, root, a, Option(tag)))
      case None =>
        try Some(Snapshot.readManifest(SparkSession.active, root, tag))
        catch { case _: java.io.FileNotFoundException => None }
    }
    SnapshotTable.of(root, asOf.flatMap(_ => m.map(_.tag)).getOrElse(tag), table,
      m.flatMap(_.tables.get(table)), writable = asOf.isEmpty, SparkSession.active)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    try {
      val t = resolve(options)
      resolved.synchronized(resolved.update(key(options), (Thread.currentThread().getId, t)))
      if (t.existed) t.schema()
      // time travel is read-only: a missing table at the resolved
      // snapshot is a read error, never a write-creation target
      else if (options.get("asOf") != null) throw new IllegalArgumentException(
        s"table ${t.tableName} not in the snapshot resolved for asOf='${options.get("asOf")}'")
      // a new table being created by a write: the writer passes the
      // dataframe schema explicitly (save() offers no other channel)
      else Option(options.get("schema")).map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(throw new IllegalArgumentException(s"table ${t.tableName} not in snapshot ${t.tag}; " +
          "to create it via a write, pass .option(\"schema\", df.schema.json)"))
    } catch {
      case e: Throwable =>
        // no getTable follows a throw, so the entry could only be a
        // same-thread orphan for a later external-metadata load
        resolved.synchronized(resolved.remove(key(options)))
        throw e
    }

  /** The memoized table (invariant above), else a fresh resolution,
    * with the load's `schema`. A read rejects one that differs from the
    * entry's (see newScanBuilder). A table the manifest lacks is a write
    * target only: reading it fails loudly, so a typo'd tag/table on a
    * read that carries the schema option is never a silent empty result.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val tid = Thread.currentThread().getId
    val t = resolved.synchronized {
      resolved.get(key(options)) match {
        case Some((`tid`, t)) => resolved.remove(key(options)); Some(t)
        case _ => None
      }
    }.getOrElse(resolve(options))
    t.copy(tableSchema = schema)(t.owner)
  }
}

/** A snapshot entry as Spark reads and writes it, built by
  * [[SnapshotTable.of]]. `dataSchema` is what the files store;
  * `partitionSchema` is what a legacy hive-partitioned entry encodes in
  * its paths, with each path's values in `partitionValues` (both empty
  * for other entries).
  *
  * `owner` sits in a SECOND parameter list (same convention as the
  * scans): case-class equality stays on the value fields, and
  * the session is threaded — not re-resolved — because builder/commit/
  * abort callbacks run on Spark-internal threads where
  * `SparkSession.active` may name a different session than the one
  * that loaded this table (advice r9).
  */
case class SnapshotTable(tableName: String, tableSchema: StructType, dataSchema: StructType,
                         partitionSchema: StructType, files: Seq[Snapshot.FileEntry],
                         partitionValues: Map[String, InternalRow], rows: Long,
                         root: String, tag: String, existed: Boolean, writable: Boolean)(
                         val owner: SparkSession)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  import org.apache.spark.sql.connector.write._
  override def name(): String = s"graft_snapshot_$tableName"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (!existed) throw new IllegalArgumentException(
      s"table $tableName not in snapshot $tag — it exists only as a write target")
    // The provider serves external metadata (writes need that channel),
    // so a user's `.schema(...)` on a READ flows straight through to
    // this table — a drifted one would read the entry's files under the
    // wrong shape (a phantom column silently all-NULL, as Spark's
    // parquet reader fills a column the files lack, or values re-typed
    // or refused mid-scan). The snapshot's committed schema is
    // authoritative on reads; reject overrides HERE, the read-only
    // choke point, so overwrite-based schema evolution (which goes
    // through newWriteBuilder + the commit-time append check) is
    // unaffected.
    val stored = StructType(dataSchema ++ partitionSchema)
    if (stored.catalogString != tableSchema.catalogString)
      throw new IllegalArgumentException(
        s"user-specified read schema ${tableSchema.catalogString} does not match " +
          s"snapshot table '$tableName''s committed schema ${stored.catalogString} — " +
          "drop .schema(...): the snapshot's own schema is authoritative on reads")
    new SnapshotScanBuilder(this)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (!writable) throw new UnsupportedOperationException(
      s"snapshot table $tableName was opened with asOf (time travel) — " +
        "history is immutable; write to a named tag instead")
    // flat files would carry none of a legacy entry's directory values
    if (partitionSchema.nonEmpty) throw new UnsupportedOperationException(
      s"snapshot table '$tableName' is hive-partitioned " +
        s"(partitionBy=${partitionSchema.fieldNames.mkString(",")}): the DSv2 source " +
        "writes flat entries only — re-export it flat with Snapshot.export, then write")
    new SnapshotWriteBuilder(root, tag, tableName, info, owner)
  }
}

object SnapshotTable {
  /** The one constructor of a [[SnapshotTable]]; no Spark job runs.
    * The entry's schema is its `schemaJson`, else its first file's
    * [[footerSchema]], with a legacy entry's partition columns (decoded
    * from its files' dirs under `dir` by Spark's own parser) last, as
    * Spark's file sources order them. No `entry` is a table only a write
    * can create; its schema is the one the load passes to getTable.
    */
  def of(root: String, tag: String, name: String, entry: Option[Snapshot.TableEntry],
         writable: Boolean, owner: SparkSession): SnapshotTable = {
    val e = entry.getOrElse(Snapshot.TableEntry(Nil, 0L, ""))
    val stored = e.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
      .orElse(e.files.headOption.map(f => footerSchema(owner, new Path(f.path)))).getOrElse(new StructType())
    val dirOf = (f: Snapshot.FileEntry) => new Path(f.path).getParent
    val (partitionSchema, byDir) = e.dir.filter(_ => e.partitionBy.nonEmpty).fold(
      (new StructType(), Map.empty[Path, InternalRow]))(d => GraftPartitionShim.parsePartitions(
        owner, new Path(d), e.files.map(dirOf).distinct, e.schemaJson.map(_ => stored)))
    val resolver = owner.sessionState.conf.resolver
    val dataSchema = StructType(stored.filterNot(f => partitionSchema.exists(p => resolver(p.name, f.name))))
    SnapshotTable(name, StructType(dataSchema ++ partitionSchema), dataSchema, partitionSchema, e.files,
      e.files.flatMap(f => byDir.get(dirOf(f)).map(f.path -> _)).toMap, e.rows, root, tag,
      existed = entry.isDefined, writable)(owner)
  }

  /** The Spark schema of the parquet file `p`, read from its footer on
    * the driver as Spark's parquet schema inference reads it: the Spark
    * schema its writer stored there, else its parquet schema converted by
    * `ParquetToSparkSchemaConverter` under the owner's SQL conf.
    */
  private def footerSchema(owner: SparkSession, p: Path): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, owner.sessionState.newHadoopConf()))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(p, reader.getFooter),
      new ParquetToSparkSchemaConverter(owner.sessionState.conf))
    finally reader.close()
  }
}

class SnapshotScanBuilder(table: SnapshotTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = table.schema()
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var answered: Option[SnapshotAggScan] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregation: a no-filter, no-groupBy `count(*)` (or
    * `count` of a non-null literal) and `min`/`max` of top-level int,
    * long and date columns the files store, answered WHOLLY from the
    * manifest (Iceberg's manifest-statistics answer): Spark plans the
    * one answer row as a local scan, and no job reads a row or opens a
    * file. Accepted only when the manifest holds every input:
    *  - every file's signature records its row count, and the counts sum
    *    to the entry's `rows` (a tampered or legacy count is refused);
    *  - every file still exists at its recorded length (one status call
    *    per file on the driver), so a missing or truncated file is
    *    refused and the row scan fails naming it;
    *  - for each `min`/`max` column, every non-empty file has bounds
    *    under the column's name, and no other column's leaves can share
    *    that dotted key (a flat `a.b` beside a struct `a`).
    * Integer footer stats are exact, while float (NaN) and binary
    * (truncation) ones are not, so no other type is answered. Anything
    * else is refused, and Spark plans its ordinary scan and aggregate.
    * `supportCompletePushDown` and `pushAggregation` give the same
    * answer for the same aggregation.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean = answer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    answered = answer(agg)
    answered.isDefined
  }

  private lazy val filesIntact: Boolean = {
    val conf = table.owner.sessionState.newHadoopConf()
    table.files.forall { f =>
      val p = new Path(f.path)
      scala.util.Try(p.getFileSystem(conf).getFileStatus(p).getLen == f.size).getOrElse(false)
    }
  }

  private def answer(agg: Aggregation): Option[SnapshotAggScan] = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    def bounded(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        table.dataSchema.fields.find(_.name == nr.fieldNames.head).filter(f => f.dataType match {
          case IntegerType | LongType | DateType => true
          case _ => false
        })
      case _ => None
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(SnapshotAgg("count", None, LongType))
      // count(col) would need per-column null counts the manifest lacks
      case c: Count if !c.isDistinct && (c.column match {
            case l: Literal[_] => l.value != null
            case _ => false
          }) => Some(SnapshotAgg("count", None, LongType))
      case m: Min => bounded(m.column).map(f => SnapshotAgg("min", Some(f.name), f.dataType))
      case m: Max => bounded(m.column).map(f => SnapshotAgg("max", Some(f.name), f.dataType))
      case _ => None
    }
    val counts = table.files.map(Snapshot.signedRows)
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty || specs.isEmpty || specs.contains(None) ||
        counts.contains(None) || counts.flatten.sum != table.rows || !filesIntact) return None
    val nonEmpty = table.files.zip(counts.flatten).collect { case (f, n) if n > 0 => f }
    val values = specs.flatten.map {
      case SnapshotAgg("count", _, _) => Some(table.rows)
      case SnapshotAgg(fn, Some(c), t) =>
        val shared = table.dataSchema.exists(f => f.name != c && c.startsWith(s"${f.name}."))
        val bounds = nonEmpty.map(_.stats.get(c))
        if (shared || bounds.contains(None)) None
        else Some((if (fn == "min") bounds.flatten.map(_.min).minOption else bounds.flatten.map(_.max).maxOption)
          .map(v => if (t == LongType) v: Any else v.toInt: Any).orNull)
      case other => throw new IllegalStateException(s"bad agg spec $other")
    }
    if (values.contains(None)) None else Some(SnapshotAggScan(table, specs.flatten, values.flatten))
  }
  /** Every filter goes to the scan, and every filter is also returned
    * as residual so Spark re-evaluates it after the scan: the manifest
    * prunes files on the ones it can bound ([[SnapshotFilePruning]]),
    * Spark's `ParquetFilters` turns the ones it can translate into
    * row-group filters, and neither is ever a correctness dependency.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan = answered.getOrElse(SnapshotScan(table, required, pushed.toSeq))
}

/** One pushed aggregate: `count` (no column) or `min`/`max` of an
  * int/long/date column, with the column's Spark type.
  */
case class SnapshotAgg(fn: String, column: Option[String], resultType: DataType)

/** The manifest's answer to a pushed aggregation, as Spark's
  * `LocalScan`: `values` is the one answer row, in `aggs` order (count
  * as long, int and date bounds narrowed from the manifest's long
  * bounds, NULL bounds for an empty table).
  */
case class SnapshotAggScan(table: SnapshotTable, aggs: Seq[SnapshotAgg], values: Seq[Any])
    extends LocalScan {
  override def readSchema(): StructType = StructType(aggs.map {
    case SnapshotAgg("count", _, _) => StructField("count(*)", LongType, nullable = false)
    case SnapshotAgg(fn, Some(c), t) => StructField(s"$fn($c)", t)
    case other => throw new IllegalStateException(s"bad agg spec $other")
  })
  override def rows(): Array[InternalRow] = Array(new GenericInternalRow(values.toArray))
  override def description(): String =
    s"GraftSnapshotAggScan(files=${table.files.size}, " +
      s"pushedAggregates=[${aggs.map(a => s"${a.fn}(${a.column.getOrElse("*")})").mkString(", ")}])"
}

/** The row scan: files skipped by manifest stats, runtime filter and
  * partition value, the rest split and packed by [[SnapshotScan.pack]]
  * and read by Spark's parquet reader: the `required` stored columns,
  * then the `required` partition columns (constant per split), as
  * Spark's `FileScan` orders them. The reader factory is built with the
  * table's `owner` session, which case-class equality does not cover: two
  * scans of the same snapshot still compare equal and Spark's
  * scan/exchange reuse keeps working.
  */
case class SnapshotScan(table: SnapshotTable, required: StructType,
                        filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  private val readPartitionSchema = StructType(table.partitionSchema.filter(f => required.fieldNames.contains(f.name)))
  private val readDataSchema =
    StructType(required.filterNot(f => table.partitionSchema.fieldNames.contains(f.name)))
  override def readSchema(): StructType = StructType(readDataSchema ++ readPartitionSchema)

  /** Manifest-derived statistics for the planner: the snapshot knows
    * its exact byte size and row count without touching storage, so
    * join-side size estimation (broadcast decisions, AQE thresholds)
    * sees real numbers instead of a default guess. sizeInBytes is
    * scaled by the column-pruning fraction — the standard width
    * heuristic: a 2-of-10-column scan of a 100 TB snapshot should
    * plan like a 20 TB input, not a 100 TB one. An empty entry reports
    * 0 rows and the 1-byte floor, so it plans as the smallest join side
    * rather than at `spark.sql.defaultSizeInBytes`.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val totalBytes = table.files.map(_.size).sum
    private val width =
      if (table.schema().isEmpty) 1.0
      else required.length.toDouble / table.schema().length.toDouble
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, (totalBytes * width).toLong))
    override def numRows(): util.OptionalLong =
      if (table.files.isEmpty) util.OptionalLong.of(0L)
      else if (table.rows > 0) util.OptionalLong.of(table.rows) else util.OptionalLong.empty()
  }
  override def toBatch: Batch = this

  /** Manifest-statistics file pruning: a file whose recorded
    * int-column range cannot satisfy the pushed predicates gets NO
    * input split — the driver skips it using manifest numbers
    * alone, before any footer or data I/O. Files without stats always
    * scan (pruning is advisory, never a correctness dependency).
    */
  private lazy val staticSelected: Seq[Snapshot.FileEntry] =
    table.files.filter(f => filters.forall(SnapshotFilePruning.mayMatch(f.stats, _)))

  /** DSv2 runtime filtering (the snapshot twin of q_scan_dpp's native-
    * parquet dynamic pruning): at execution start Spark evaluates the
    * completed broadcast side of a selective join and hands this scan
    * the join-key set as an `In` filter — files whose manifest range
    * or partition values can't contain any key get no input split. Pure
    * I/O optimization: the join itself still filters rows, so pruning
    * can only skip files, never change results. At 100 TB this is the
    * difference between scanning the whole fact snapshot and scanning
    * the handful of files a pruned dimension actually touches.
    */
  private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  /** Only attributes the scan can actually prune on — top-level
    * columns with recorded stats in at least one file, and a legacy
    * entry's partition columns. Advertising a column we can't prune
    * would make Spark build and broadcast a key set for nothing.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val statCols = table.files.iterator.flatMap(_.stats.keysIterator).toSet
    (table.dataSchema.fields.filter(f => statCols.contains(f.name)) ++ table.partitionSchema.fields)
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
  }

  override def filter(fs: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = fs.toSeq
  /** Runtime-key pruning pre-sorts each In-set ONCE and range-probes it
    * per file with a binary search — O(F log V) driver work instead of
    * the naive O(F × V), which matters when a 100k-file snapshot meets
    * a 10k-key dimension. Non-integral key sets and untracked shapes
    * fall back to the conservative static check.
    */
  private def runtimePruner(fs: Seq[org.apache.spark.sql.sources.Filter])
      : Snapshot.FileEntry => Boolean = {
    import org.apache.spark.sql.sources._
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue())
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Short => Some(n.longValue())
      case n: java.lang.Byte => Some(n.longValue())
      case _ => None
    }
    val checks: Seq[Snapshot.FileEntry => Boolean] = fs.map {
      case In(a, vs) if vs.nonEmpty =>
        val longs = vs.flatMap(asLong(_))
        if (longs.length != vs.length) (_: Snapshot.FileEntry) => true
        else {
          val sorted = longs.sorted
          fe => fe.stats.get(a) match {
            case Some(s) =>
              // counted so the O(F log V) claim is testable as "exactly
              // one range probe per file" (a LongAdder bump is noise
              // next to the binary search itself) — wall-clock asserts
              // flake on loaded hosts, op-counts don't
              SnapshotScanProbe.runtimeProbes.increment()
              val i = java.util.Arrays.binarySearch(sorted, s.min)
              val idx = if (i >= 0) i else -i - 1
              idx < sorted.length && sorted(idx) <= s.max
            case None => true
          }
        }
      case f => (fe: Snapshot.FileEntry) => SnapshotFilePruning.mayMatch(fe.stats, f)
    }
    fe => checks.forall(_(fe))
  }

  private def byStats: Seq[Snapshot.FileEntry] =
    if (runtimeFilters.isEmpty) staticSelected else staticSelected.filter(runtimePruner(runtimeFilters))
  private def values(f: Snapshot.FileEntry) = table.partitionValues.getOrElse(f.path, InternalRow.empty)
  private def selected: Seq[Snapshot.FileEntry] = {
    val inPartition = SnapshotFilePruning.partitionFilter(table.partitionSchema, filters ++ runtimeFilters)
    byStats.filter(f => inPartition(values(f)))
  }

  /** Each split carries its file's values of the required partition
    * columns only, as `FileScan` projects them.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val idx = readPartitionSchema.map(f => table.partitionSchema.fieldIndex(f.name))
    SnapshotScan.pack(table.owner, selected, splitFiles = true,
      f => InternalRow.fromSeq(idx.map(i => values(f).get(i, table.partitionSchema(i).dataType))))
  }
  // the OWNING session, not SparkSession.active: this runs on a
  // planning thread where a multi-session app's active session can
  // differ from the one that loaded the table (advice r9); the readers
  // get its Hadoop conf, so filesystem settings (S3 credentials, HA
  // nameservices, kerberos) reach the executors
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotScan.readerFactory(table.owner, table.dataSchema, readDataSchema, readPartitionSchema,
      filters)
  override def description(): String =
    s"GraftSnapshotScan(files=${table.files.size}, skippedByStats=${table.files.size - byStats.size}, " +
      s"skippedByPartition=${byStats.size - selected.size}, " +
      s"columns=${required.fieldNames.mkString(",")}, " +
      s"pushedFilters=[${filters.mkString(", ")}])"
}

object SnapshotScan {
  /** Input partitions over `files` as Spark's file scans plan them:
    * `PartitionedFileUtil.splitFiles` cuts each file (if `splitFiles`)
    * at `FilePartition.maxSplitBytes`, and `getFilePartitions` packs the
    * splits, largest first. Its `SparkPath.fromPath` keeps a space or `%`
    * in a manifest path literal.
    */
  def pack(owner: SparkSession, files: Seq[Snapshot.FileEntry], splitFiles: Boolean,
           values: Snapshot.FileEntry => InternalRow): Array[InputPartition] = {
    val openCost = owner.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(owner, files.map(_.size + openCost).sum)
    val splits = files.flatMap { f =>
      val p = new Path(f.path)
      PartitionedFileUtil.splitFiles(FileStatusWithMetadata(new FileStatus(f.size, false, 0, 0L, 0L, p)),
        p, splitFiles, maxSplit, values(f))
    }
    FilePartition.getFilePartitions(owner, splits.sortBy(-_.length), maxSplit).toArray
  }

  /** Spark's parquet reader for `required` of files holding
    * `dataSchema`, plus each split's `partitionSchema` values, over
    * `owner`'s Hadoop conf prepared with the keys Spark's own
    * `ParquetScan.createReaderFactory` sets. Spark applies the `filters`
    * it can translate (on stored columns) as row-group filters.
    */
  def readerFactory(owner: SparkSession, dataSchema: StructType, required: StructType,
                    partitionSchema: StructType, filters: Seq[org.apache.spark.sql.sources.Filter])
      : ParquetPartitionReaderFactory = {
    val sqlConf = owner.sessionState.conf
    val conf = owner.sessionState.newHadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, required.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, required.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED -> sqlConf.nestedSchemaPruningEnabled,
      SQLConf.CASE_SENSITIVE -> sqlConf.caseSensitiveAnalysis,
      SQLConf.PARQUET_BINARY_AS_STRING -> sqlConf.isParquetBinaryAsString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP -> sqlConf.isParquetINT96AsTimestamp,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED -> sqlConf.parquetInferTimestampNTZEnabled,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG -> sqlConf.legacyParquetNanosAsLong,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION ->
        sqlConf.parquetReaderRespectUnknownTypeAnnotation
    ).foreach { case (entry, v) => conf.setBoolean(entry.key, v) }
    ParquetPartitionReaderFactory(sqlConf,
      owner.sparkContext.broadcast(new SerializableConfiguration(conf)),
      dataSchema, required, partitionSchema, filters.toArray, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

/** Driver-side count of the runtime In-pruner's binary-search range
  * probes: the O(F log V) claim is asserted as "one probe per file" on
  * this counter instead of a load-sensitive wall-clock bound (r12
  * advice). One LongAdder bump per probe; no production reads.
  */
object SnapshotScanProbe {
  private[graft] val runtimeProbes = new java.util.concurrent.atomic.LongAdder
}

/** Driver-side may-match test of a source filter against per-file
  * integer column ranges. Conservative by construction: unknown
  * columns, non-integral values and untracked predicate shapes all
  * return true. Null semantics: comparison predicates never match
  * null cells, so [min, max] of the non-null values bounds every row
  * a comparison could accept; IsNull/IsNotNull are not prunable from
  * min/max alone and always pass.
  */
object SnapshotFilePruning {
  import org.apache.spark.sql.GraftShim
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.{expressions => cat}
  import org.apache.spark.sql.sources._

  def mayMatch(stats: Map[String, Snapshot.ColumnStats], f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
    case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
    case EqualTo(a, v) => bound(stats, a, v).forall { case (s, x) => s.min <= x && x <= s.max }
    case GreaterThan(a, v) => bound(stats, a, v).forall { case (s, x) => s.max > x }
    case GreaterThanOrEqual(a, v) => bound(stats, a, v).forall { case (s, x) => s.max >= x }
    case LessThan(a, v) => bound(stats, a, v).forall { case (s, x) => s.min < x }
    case LessThanOrEqual(a, v) => bound(stats, a, v).forall { case (s, x) => s.min <= x }
    case In(a, vs) => vs.isEmpty || vs.exists(v => mayMatch(stats, EqualTo(a, v)))
    case _ => true
  }

  /** The (stats, value) pair when the column has recorded stats AND
    * the comparison value is an integral number; None ⇒ can't prune.
    */
  private def bound(stats: Map[String, Snapshot.ColumnStats], attr: String,
                    v: Any): Option[(Snapshot.ColumnStats, Long)] =
    stats.get(attr).flatMap(s => v match {
      case n: java.lang.Long => Some((s, n.longValue()))
      case n: java.lang.Integer => Some((s, n.longValue()))
      case n: java.lang.Short => Some((s, n.longValue()))
      case n: java.lang.Byte => Some((s, n.longValue()))
      case _ => None
    })

  /** Whether a file of a legacy hive-partitioned entry, whose partition
    * columns are `schema`, may hold a row matching `fs`, judged from its
    * partition row alone: each filter that names partition columns only,
    * converted to Catalyst by Spark's own `V2ExpressionUtils`, must not be
    * false or NULL on it. A filter that does not convert or evaluate
    * keeps the file.
    */
  def partitionFilter(schema: StructType, fs: Seq[Filter]): InternalRow => Boolean = {
    val preds = fs.filter(_.references.forall(schema.fieldNames.contains))
      .flatMap(f => cat.V2ExpressionUtils.toCatalyst(GraftShim.toV2(f)))
      .map(_.transform { case a: UnresolvedAttribute =>
        cat.BoundReference(schema.fieldIndex(a.name), schema(a.name).dataType, nullable = true)
      })
    row => preds.forall(p => scala.util.Try(p.eval(row)).fold(_ => true, _ == true))
  }
}

// ---------------------------------------------------------------------------
// Write path: the snapshot manifest doubles as a DSv2 commit protocol.
// ---------------------------------------------------------------------------

/** DSv2 batch write into a snapshot table. The commit protocol is the
  * metadata-swap design every table format on object storage converged
  * on (Iceberg/Delta, public docs): executors write immutable part
  * files FIRST (names unique per (partition, task) attempt, so task
  * retries and speculative duplicates can never collide or double-
  * commit), and the driver's `commit()` then writes the manifest
  * naming exactly the committed files — one O(1) metadata write, no
  * directory renames, no output-committer dance. A reader either sees
  * the old manifest or the new one; a crashed write leaves only
  * unreferenced files for retention to sweep. `truncate()` (Spark's
  * overwrite-mode path) swaps the table entry to the new file set —
  * the old generation's files stay on disk for time-travel until
  * retention removes them, exactly like the export pipeline's
  * incremental links.
  *
  * At-least-once writers (streaming foreachBatch) pass
  * `txnAppId`/`txnVersion` to make replayed micro-batches no-ops —
  * see [[graft.sources.Snapshot.TableEntry]] `txns` and the commit
  * body below (SnapshotStreamRecoverySpec probes the failure mode and
  * the guarantee).
  */
class SnapshotWriteBuilder(root: String, tag: String, table: String,
                           info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
                           owner: SparkSession)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var truncateFirst = false

  /** Idempotent-writer identity (`txnAppId`/`txnVersion` write options
    * — see [[Snapshot.TableEntry]] `txns`). Parsed HERE, driver-side at
    * build time, so a malformed pair fails the query before any
    * executor writes a file: an at-least-once writer whose idempotence
    * key silently failed to parse would be a correctness bug dressed as
    * a fallback.
    */
  private val txn: Option[(String, Long)] = {
    val o = info.options()
    (Option(o.get("txnAppId")), Option(o.get("txnVersion"))) match {
      case (Some(app), Some(ver)) =>
        if (app.isEmpty) throw new IllegalArgumentException(
          s"txnAppId must be non-empty for an idempotent write to snapshot table '$table'")
        val v = try ver.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"txnVersion '$ver' is not a long (snapshot table '$table') — pass the " +
              "micro-batch id (or any per-writer monotonic version)")
        }
        Some(app -> v)
      case (None, None) => None
      case (app, _) => throw new IllegalArgumentException(
        s"snapshot table '$table': txnAppId and txnVersion must be set together " +
          s"(got ${if (app.isDefined) "txnAppId without txnVersion" else "txnVersion without txnAppId"})")
    }
  }

  /** Optional age-based ledger retention (`txnRetentionMs` write
    * option — Delta's setTransactionRetentionDuration analogue): each
    * commit carrying it sweeps stamped ledger entries older than the
    * window (see [[Snapshot.expiredTxnApps]] for exactly what
    * qualifies, and TableEntry's RETENTION doc for the double-commit
    * hazard of a too-short window). Validated here at build time like
    * the txn pair: a mistyped retention silently not applying would
    * let the ledger bloat unnoticed.
    */
  private val txnRetentionMs: Option[Long] =
    Option(info.options().get("txnRetentionMs")).map { r =>
      val v = try r.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"txnRetentionMs '$r' is not a long (snapshot table '$table') — pass the " +
            "retention window in milliseconds")
      }
      if (v <= 0) throw new IllegalArgumentException(
        s"txnRetentionMs must be positive (snapshot table '$table', got $v)")
      v
    }

  SnapshotWriterFactory.requireStorable(table, info.schema())

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      // the OWNING session prepares the writers and rides along for
      // commit()'s manifest read-modify-write, which runs on a
      // Spark-internal thread where SparkSession.active is not
      // trustworthy (advice r9)
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        SnapshotBatchWrite(root, tag, table, truncateFirst, txn, txnRetentionMs)(
          owner, SnapshotWriterFactory(owner, s"$root/$tag/$table", info.schema()))
    }
}

case class SnapshotBatchWrite(root: String, tag: String, table: String, truncateFirst: Boolean,
                              txn: Option[(String, Long)] = None,
                              txnRetentionMs: Option[Long] = None)(
                              val owner: SparkSession,
                              val writers: SnapshotWriterFactory)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = writers

  override def commit(messages: Array[WriterCommitMessage]): Unit = SnapshotBatchWrite.commitLock.synchronized {
    val s = owner
    val schema = writers.schema
    // an empty task wrote no file (lazy writer), so empty partitions and
    // empty micro-batches never accrete 0-row files in the manifest
    val committed = messages.toSeq.collect { case m: SnapshotCommitMessage => m.files }.flatten
    val prior =
      try Some(Snapshot.readManifest(s, root, tag))
      catch { case _: java.io.FileNotFoundException => None }
    SnapshotBatchWrite.commitRaceHook()
    // Idempotence ledger, read REGARDLESS of truncate: the recorded
    // writer versions describe writer progress, not the current file
    // set, so an overwrite consults (and below, carries forward) the
    // same ledger an append does.
    val priorLedger = prior.flatMap(_.tables.get(table))
    val isReplay = txn.exists { case (app, v) =>
      priorLedger.flatMap(_.txns.get(app)).exists(_ >= v)
    }
    if (isReplay) {
      // Replay of an already-committed transaction — the at-least-once
      // case this option exists for (a streaming micro-batch
      // re-delivered after a crash between the checkpoint's offset and
      // commit writes, possibly from a NEW driver JVM reading this
      // manifest fresh). The whole write is a no-op: no manifest swap,
      // and this attempt's data files (duplicates by construction,
      // referenced by nothing) are deleted through the same conf
      // abort() uses — not left for vacuum, or every replayed batch
      // would leak a file set.
      val conf = writers.hconf.value
      committed.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f.entry.path)
        // a transient delete failure leaks an unreferenced duplicate
        // that nothing else will ever sweep (vacuum only walks tags it
        // can attribute) — the commit must still succeed as a no-op,
        // but the leak has to be OBSERVABLE, not swallowed
        try p.getFileSystem(conf).delete(p, false) catch {
          case e: Exception => System.err.println(
            s"[snapshot] WARNING: replay no-op could not delete its duplicate file $p " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — unreferenced file leaked; remove manually")
        }
      }
    } else commitFresh(s, schema, committed, prior, priorLedger)
  }

  /** The non-replay commit body: manifest read-modify-write under the
    * caller's lock (split out only so the replay no-op above needs no
    * non-local return).
    */
  private def commitFresh(s: SparkSession, schema: StructType,
                          committed: Seq[Snapshot.SignedFile],
                          prior: Option[Snapshot.Manifest],
                          priorLedger: Option[Snapshot.TableEntry]): Unit = {
    val priorEntry = if (truncateFirst) None else prior.flatMap(_.tables.get(table))
    // Appends must match the entry's schema EXACTLY (names+types+order;
    // catalogString ignores nullability/metadata, same normalization as
    // the signature): the provider serves external metadata, so Spark
    // hands the QUERY's schema through to this write without validating
    // it against the entry — an unchecked wider append would stamp the
    // new schema over a file set whose older files lack the new
    // columns, committing a table whose older rows SILENTLY read the
    // new column as NULL (Spark's parquet reader fills a column a file
    // lacks) instead of failing. Checked HERE, under the commit lock,
    // where the prior entry is authoritative; overwrite (truncate)
    // replaces the file set wholesale, so a schema change there is
    // legitimate evolution.
    priorEntry.flatMap(_.schemaJson).foreach { pj =>
      val priorSchema = DataType.fromJson(pj).asInstanceOf[StructType]
      if (priorSchema.catalogString != schema.catalogString)
        throw new IllegalArgumentException(
          s"schema mismatch appending to snapshot table '$table': the entry is " +
            s"${priorSchema.catalogString} but the append writes " +
            s"${schema.catalogString} — appended files must match the entry " +
            "schema exactly; use overwrite (truncate) to change it")
    }
    val files = (priorEntry.map(_.files).getOrElse(Nil) ++ committed.map(_.entry)).sortBy(_.path)
    val rows = priorEntry.map(_.rows).getOrElse(0L) + committed.map(_.rows).sum
    // The content term [[Snapshot.export]] signs with: the sum is
    // commutative, so the entry's prior sum (zero for a fresh write or
    // a truncate) plus the new files' sums is the sum over all its rows.
    // Without a current prior content term (a legacy entry), the
    // signature stays prefix-only and never matches an export's.
    val content = priorEntry.fold(Option(java.math.BigInteger.ZERO))(Snapshot.contentOf(_, schema))
      .map(prior => committed.map(_.sum).foldLeft(prior)(_ add _))
    // carry the ledger forward (through overwrites too — see above) and
    // record this transaction's version on top, stamping the commit
    // time for age-based retention (TableEntry's RETENTION doc)
    val nowMs = System.currentTimeMillis()
    val ledger = priorLedger.map(_.txns).getOrElse(Map.empty[String, Long]) ++ txn
    val stamps = priorLedger.map(_.txnStamps).getOrElse(Map.empty[String, Long]) ++
      txn.map { case (app, _) => app -> nowMs }
    val stamped = Snapshot.TableEntry(files, rows, Snapshot.signatureOf(schema, rows, content),
      schemaJson = Some(schema.json), txns = ledger, txnStamps = stamps)
    // optional piggybacked sweep: this writer's own entry was stamped
    // `nowMs` above, so it can never expire itself
    val entry = txnRetentionMs.fold(stamped) { ret =>
      val doomed = Snapshot.expiredTxnApps(stamped, ret, nowMs)
      if (doomed.isEmpty) stamped
      else {
        System.err.println(s"[snapshot] txnRetentionMs sweep on '$table' expired " +
          s"${doomed.size} ledger entr${if (doomed.size == 1) "y" else "ies"}: " +
          doomed.toSeq.sorted.mkString(", "))
        stamped.copy(txns = stamped.txns -- doomed, txnStamps = stamped.txnStamps -- doomed)
      }
    }
    val m = prior.getOrElse(Snapshot.Manifest(tag, None, Map.empty))
    // OCC: state the generation this read-modify-write was based on as
    // the swap precondition — a second JVM that committed in the window
    // turns this into a loud ConcurrentSnapshotCommitException instead
    // of a silent lost update (in-process writers never conflict: the
    // enclosing commitLock serializes them)
    val readGen = prior.map(_.generation).getOrElse(-1L)
    Snapshot.writeManifest(s, root,
      m.copy(tables = m.tables + (table -> entry), generation = readGen + 1),
      expectedGeneration = Some(readGen))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // the executors wrote through the writers' conf (the owning
    // session's conf as captured at build time) — clean up through the
    // SAME conf, so the delete resolves the same filesystem regardless
    // of which session is "active" on the abort thread
    val conf = writers.hconf.value
    messages.collect { case m: SnapshotCommitMessage => m.files }.flatten.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f.entry.path)
      p.getFileSystem(conf).delete(p, false)
    }
  }
}

object SnapshotBatchWrite {
  /** Serializes the manifest read-modify-write of commit() within this
    * JVM, so parallel writers in one application (e.g. two streaming
    * queries appending to the same table) never even conflict. ACROSS
    * JVMs the lock is invisible; there the manifest generation counter
    * stated as a swap precondition (Snapshot.writeManifest) detects a
    * lost update and fails the loser loudly — full cross-application
    * MUTUAL EXCLUSION (blind retry loops) would still need a
    * conditional-PUT / lock service on object stores, but an undetected
    * silent loss is no longer possible on filesystems with atomic
    * create-exclusive (local, HDFS).
    */
  private[sources] val commitLock = new Object

  /** Test seam for the cross-JVM race: invoked after commit() reads the
    * prior manifest and before it swaps the new one. A spec injects a
    * SECOND session's full append here — run on the same thread, the
    * reentrant commitLock does not stop it, which is exactly the
    * position a second JVM is in (the in-process lock is invisible to
    * it). Production never sets this; the default is a no-op.
    */
  @volatile private[graft] var commitRaceHook: () => Unit = () => ()
}

/** The files one write task wrote, each signed by its writer. */
case class SnapshotCommitMessage(files: Seq[Snapshot.SignedFile])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The task-side writers of a snapshot table's `dir`, for the DSv2 sink
  * and for [[Snapshot.export]] alike: Spark's parquet `writerFactory`,
  * the Hadoop conf it was prepared in, and the session's
  * `spark.sql.files.maxRecordsPerFile` (0 or less: no limit).
  */
case class SnapshotWriterFactory(dir: String, schema: StructType,
                                 writerFactory: OutputWriterFactory,
                                 hconf: SerializableConfiguration,
                                 maxRecordsPerFile: Long)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): SnapshotDataWriter =
    new SnapshotDataWriter(dir, partitionId, taskId, schema, writerFactory, hconf.value,
      maxRecordsPerFile)

  /** Writes `rows`, as one task of Spark's DSv2 write does: commit on
    * success, abort (deleting the files) on failure.
    */
  def writeAll(partitionId: Int, rows: Iterator[InternalRow]): SnapshotCommitMessage = {
    val w = createWriter(partitionId, org.apache.spark.TaskContext.get().taskAttemptId())
    try {
      rows.foreach(w.write)
      w.commit()
    } catch {
      case e: Throwable =>
        try w.abort() catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    } finally w.close()
  }
}

object SnapshotWriterFactory {
  /** Spark's parquet writer for `schema`, prepared once on the driver
    * from the `owner` session's SQL and Hadoop conf (codec, timestamp
    * type, file size limit, filesystem settings) — the route Spark's own
    * DSv2 ParquetWrite takes.
    */
  def apply(owner: SparkSession, dir: String, schema: StructType): SnapshotWriterFactory = {
    val sqlConf = owner.sessionState.conf
    val job = Job.getInstance(owner.sessionState.newHadoopConf())
    val writerFactory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    SnapshotWriterFactory(dir, schema, writerFactory,
      new SerializableConfiguration(job.getConfiguration), sqlConf.maxRecordsPerFile)
  }

  /** Column types Spark's parquet writer cannot store (intervals, for
    * one) fail HERE, on the driver, before any job runs — not once per
    * executor task after a job has started. The DSv2 sink and
    * [[Snapshot.export]] both check their tables with this.
    */
  def requireStorable(table: String, schema: StructType): Unit = {
    val parquet = new ParquetFileFormat
    schema.fields.find(f => !parquet.supportDataType(f.dataType))
      .foreach(f => throw new IllegalArgumentException(
        s"snapshot table '$table': column '${f.name}' has type ${f.dataType.catalogString}, " +
          "which Spark's parquet writer cannot store"))
  }
}

/** One write task's part files, encoded by Spark's own parquet writer
  * (`writerFactory`, from `ParquetUtils.prepareWrite`): the one writer
  * of every snapshot file, export's and the DSv2 sink's, so every
  * column type Spark's parquet writer stores is stored alike. A file
  * opens on the first row, so an empty task leaves none, and a new
  * file starts every `maxRecordsPerFile` rows (0 or less: never), as
  * Spark's own file writers roll. Each file is signed by what it
  * holds: the writer counts its rows and sums [[Snapshot.HashSum]]'s
  * row hash over them exactly, and its manifest stats come from its
  * footer ([[Snapshot.footerStats]]).
  */
class SnapshotDataWriter(dir: String, partitionId: Int, taskId: Long, schema: StructType,
                         writerFactory: OutputWriterFactory, conf: Configuration,
                         maxRecordsPerFile: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val attempt = new TaskAttemptID(
    new TaskID(new JobID("snapshot", 0), TaskType.MAP, partitionId), (taskId & Int.MaxValue).toInt)
  private val sum = new Snapshot.HashSum(schema)
  private val done = Seq.newBuilder[Snapshot.SignedFile]
  // every file opened, so abort() can delete the finished ones too
  private val opened = scala.collection.mutable.ArrayBuffer.empty[Path]
  private var writer: OutputWriter = _
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (writer != null && maxRecordsPerFile > 0 && rows >= maxRecordsPerFile) finish()
    if (writer == null) {
      // partitionId+taskId dedup retries within one application; the
      // UUID makes names collision-free across applications appending to
      // the same table from fresh JVMs (where taskIds restart at 0)
      val path = new Path(
        f"$dir/part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.parquet")
      opened += path
      writer = writerFactory.newInstance(path.toString, schema, new TaskAttemptContextImpl(conf, attempt))
    }
    writer.write(row)
    sum.add(row)
    rows += 1L
  }

  /** Closes the open file and signs it with its rows and hash sum. */
  private def finish(): Unit = {
    writer.close()
    writer = null
    val path = opened.last
    val h = sum.take()
    done += Snapshot.SignedFile(
      Snapshot.FileEntry(path.toString, path.getFileSystem(conf).getFileStatus(path).getLen,
        Snapshot.footerStats(path, conf), Some(Snapshot.signatureOf(schema, rows, Some(h)))),
      rows, h)
    rows = 0L
  }

  override def commit(): SnapshotCommitMessage = {
    if (writer != null) finish()
    SnapshotCommitMessage(done.result())
  }

  override def abort(): Unit = {
    if (writer != null) try writer.close() catch { case _: Exception => () }
    opened.foreach(p => p.getFileSystem(conf).delete(p, false))
  }

  override def close(): Unit = ()
}
