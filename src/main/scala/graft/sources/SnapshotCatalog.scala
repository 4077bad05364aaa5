package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin for snapshot roots: registers a snapshot tree so SQL
  * users query it by NAME — no hand-made temp views, no options plumbing:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.root", "/data/snapshots")
  * spark.sql("SELECT count(*) FROM snap.v3.orders")       // tag v3
  * df.writeTo("snap.v3.orders").append()                  // DSv2 write path
  * }}}
  *
  * Identifier mapping: namespace = the snapshot TAG, table name = the
  * table inside that snapshot's manifest (`snap.<tag>.<table>`), mirroring
  * the options path's (root, tag, table) coordinates.
  *
  * FRESHNESS INVARIANT — the reason this is safe where caching the
  * options-path [[SnapshotSource]] provider would not be: every
  * `loadTable` call performs ONE fresh manifest resolution and captures
  * it whole (schema + file list + row count) in the returned
  * [[SnapshotTable]]. Spark instantiates ONE catalog instance per session
  * and calls `loadTable` during every query's analysis, so a snapshot
  * re-exported under the same tag between two queries is picked up by the
  * second query — there is no provider-level memo to go stale (the memo
  * the options path needs exists only to pair inferSchema with getTable,
  * two calls this API folds into one). Schema and files can never be
  * paired across two different manifest versions by construction.
  *
  * Writes go through the loaded table's DSv2 write path (same
  * [[SnapshotWriteBuilder]] as the options path), so
  * `INSERT INTO snap.<tag>.<table>` / `writeTo(...).append()` append to
  * the tag's manifest atomically. At-least-once writers use
  * `writeTo(...).option("txnAppId", app).option("txnVersion", v)` —
  * DataFrameWriterV2 options reach the write builder, so the catalog
  * path gets the same replay idempotence as the options path (the SQL
  * INSERT front door has no option channel; use writeTo for streaming
  * ingestion). DDL (CREATE/ALTER/DROP) is rejected:
  * snapshot manifests are created by the export/write pipeline
  * ([[Snapshot.export]]), not by SQL DDL.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"catalog '$name' needs spark.sql.catalog.$name.root = <snapshot root>")
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** SQL identifiers reach filesystem paths (`root/<tag>/...` and the
    * write dir `root/<tag>/<table>`), and backquoted identifiers may
    * contain ANY characters — `snap.`..`.t` would read a sibling
    * root's manifest, and a slashed tag would commit a manifest
    * listTags never sees (whose referenced files vacuum would then
    * sweep as orphans). Only a single safe path segment is a legal tag
    * or table name.
    */
  private[graft] def safeSegment(s: String): Boolean =
    s != null && s.nonEmpty && s != "." && s != ".." &&
      !s.exists(c => c == '/' || c == '\\' || c == '\u0000')

  private def noSuchTable(ident: Identifier): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      Seq(catalogName) ++ ident.namespace :+ ident.name)

  private def noSuchNamespace(namespace: Array[String]): Nothing =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catalogName) ++ namespace)

  /** Resolve a tag name: exact match first (one fs probe), then a
    * UNIQUE case-insensitive match (Spark's default analysis is
    * case-preserving but case-insensitive, so `snap.V1.t` should find
    * tag `v1` — but never guess among several casings).
    */
  private def resolveTag(tag: String): Option[String] =
    if (!safeSegment(tag)) None
    else if (Snapshot.tagExists(spark, root, tag)) Some(tag)
    else Snapshot.listTags(spark, root).filter(_.equalsIgnoreCase(tag)) match {
      case Seq(unique) => Some(unique)
      case _ => None
    }

  private def loadManifest(ident: Identifier): (String, Snapshot.Manifest) = {
    // wrong arity and traversal-shaped names are NOT-FOUND, never a bare
    // require failure: Spark's default tableExists catches only
    // NoSuchTableException, so anything else crashes writer paths
    if (ident.namespace.length != 1 || !safeSegment(ident.name)) noSuchTable(ident)
    val tag = resolveTag(ident.namespace.head).getOrElse(noSuchTable(ident))
    try (tag, Snapshot.readManifest(spark, root, tag))
    catch { case _: java.io.FileNotFoundException => noSuchTable(ident) }
  }

  private def toTable(ident: Identifier, tag: String, manifest: Snapshot.Manifest,
                      writable: Boolean): Table = {
    // resolve to the MANIFEST's key, not the user's casing: the name
    // flows into SnapshotWriteBuilder, which keys the manifest update
    // and the data dir — serving `snap.v1.ORDERS` as "ORDERS" when the
    // entry is "orders" would fork the table on the first INSERT
    // (reads fine, writes commit a brand-new "ORDERS" entry)
    val (actualName, entry) = manifest.tables.get(ident.name).map(ident.name -> _)
      .orElse(manifest.tables.find(_._1.equalsIgnoreCase(ident.name))
        // unique case-insensitive fallback, same rule as tags
        .filter(_ => manifest.tables.keys.count(_.equalsIgnoreCase(ident.name)) == 1))
      .getOrElse(noSuchTable(ident))
    // owner = the session loading the table (loadTable runs on the
    // querying session's analysis thread) — captured ONCE here so
    // later builder/commit callbacks on Spark-internal threads never
    // consult SparkSession.active themselves (advice r9)
    SnapshotTable.of(root, tag, actualName, Some(entry), writable, spark)
  }

  /** ONE fresh manifest resolution per call (freshness invariant). */
  override def loadTable(ident: Identifier): Table = {
    val (tag, manifest) = loadManifest(ident)
    toTable(ident, tag, manifest, writable = true)
  }

  /** SQL time travel: `FOR VERSION AS OF '<tag-or-sortable-string>'`
    * resolves the identifier tag's parent chain as of that version
    * (lineage-respecting, same rule as the options path's `asOf`).
    * Read-only, like every time-travel handle.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (ident.namespace.length != 1 || !safeSegment(ident.name) ||
        !safeSegment(version)) noSuchTable(ident)
    val tag = resolveTag(ident.namespace.head).getOrElse(noSuchTable(ident))
    val manifest =
      try Snapshot.resolveAsOf(spark, root, version, Some(tag))
      catch { case _: IllegalArgumentException => noSuchTable(ident) }
    toTable(ident, manifest.tag, manifest, writable = false)
  }

  /** `FOR TIMESTAMP AS OF <ts>`: Spark hands micros since epoch; tags
    * are sortable strings (ISO instants in production), so the instant
    * string resolves through the same asOf walk.
    *
    * The query instant is rendered with a FIXED 6-digit fraction
    * (`…T10:00:00.000000Z`), never `Instant.toString` — that renders
    * whole seconds as `…T10:00:00Z`, and `'Z' > '.'` lexicographically,
    * so a variable-width query string compares AFTER every sub-second
    * tag in the same second and the `tag <= asOf` walk would return a
    * snapshot tagged up to ~1s after the queried instant (advice r15).
    * The walk itself also parses BOTH sides as instants when they parse
    * ([[Snapshot.tagLeq]], advice r16), so a whole-second tag
    * `…T10:00:00Z` committed exactly at the queried instant is INCLUDED
    * (time-travel semantics include equal timestamps) even though
    * `'Z' > '.'` would string-sort it after this rendering.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadTable(ident, SnapshotCatalog.microsFormatter.format(
      java.time.Instant.ofEpochSecond(
        timestamp / 1000000L, (timestamp % 1000000L) * 1000L)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // arity != 1 (incl. the empty default namespace from `USE snap`) is
    // the standard namespace-not-found, not a require crash
    if (namespace.length != 1 || !safeSegment(namespace.head)) noSuchNamespace(namespace)
    val tag = resolveTag(namespace.head).getOrElse(noSuchNamespace(namespace))
    val manifest =
      try Snapshot.readManifest(spark, root, tag)
      catch { case _: java.io.FileNotFoundException => noSuchNamespace(namespace) }
    manifest.tables.keys.toArray.sorted.map(Identifier.of(namespace, _))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "snapshot tables are created by the export/write pipeline, not SQL DDL")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("snapshot manifests are immutable to DDL")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "drop snapshots via Snapshot.retain/vacuum, not SQL DDL")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("snapshot manifests are immutable to DDL")

  // namespaces = the snapshot tags currently on disk (fresh listing per call)
  override def listNamespaces(): Array[Array[String]] =
    Snapshot.listTags(spark, root).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespace.length == 1 && namespaceExists(namespace)) Array.empty
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catalogName) ++ namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && resolveTag(namespace.head).isDefined

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      Seq(catalogName) ++ namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "snapshot tags are created by the export/write pipeline, not SQL DDL")

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("snapshot tags are immutable to DDL")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "drop snapshots via Snapshot.retain/vacuum, not SQL DDL")
}

object SnapshotCatalog {
  /** Fixed-width UTC instant rendering for TIMESTAMP AS OF: always a
    * 6-digit fraction, so whole-second query instants sort correctly
    * against sub-second ISO tags (see loadTable(ident, timestamp)).
    */
  private[sources] val microsFormatter: java.time.format.DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("uuuu-MM-dd'T'HH:mm:ss")
      .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 6, 6, true)
      .appendLiteral('Z')
      .toFormatter
      .withZone(java.time.ZoneOffset.UTC)
}
