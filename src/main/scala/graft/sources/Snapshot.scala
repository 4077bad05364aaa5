package graft.sources

import java.math.BigInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** Snapshot export/read/retention pipeline — the reference tool's own
  * capability re-expressed for a Spark+parquet world (SURVEY §0.1,
  * §7.2 M3): discover → copy-or-link → manifest → retention.
  *
  * Model: a snapshot `tag` is `root/<tag>/manifest.json` plus the
  * immutable data generations it references
  * (`root/<tag>/<table>/g-<uuid>/part-*.parquet` — each export writes
  * a FRESH generation dir and swaps the manifest; superseded
  * generations stay on disk until vacuum). The manifest describes
  * every table's files (path, size, rows) and the parent tag.
  * Incremental export exploits immutability the way the reference
  * exploits SSTable immutability: a table whose content signature
  * matches the parent snapshot is NOT rewritten — its manifest entry
  * points at the parent's files. Inheritance is also FILE-granular:
  * each partition of the exported DataFrame is signed
  * separately, a partition equal to one of the parent's files links to
  * that file, and only the remaining partitions are written (the
  * reference uploads only the SSTables HDFS does not have). One entry
  * may therefore own files in several tags, and retention keeps every
  * ancestor tag a kept tag links into. See [[export]].
  *
  * All I/O goes through the Hadoop FileSystem API, so the same code
  * runs against local disk here and HDFS/S3 on a cluster. The
  * manifest is the unit of atomicity: written last, so a crashed
  * export leaves no readable snapshot.
  */
object Snapshot {

  /** Per-file min/max of int32/int64 columns, harvested from parquet
    * footers when the manifest is built. This is the Iceberg-style
    * manifest statistics layer: a filtered scan consults these numbers
    * ON THE DRIVER and never plans a partition for a file whose range
    * can't match — at 100 TB the difference between "open 100k footers"
    * and "read one manifest". Stats are optional (absent for files
    * written before this field, or for stat-less foreign writers) and
    * advisory: a file without stats is always scanned.
    */
  case class ColumnStats(min: Long, max: Long)
  /** `signature` is the file's own content signature, in the table
    * signature's format (see [[signatureOf]]): the rows and row-hash sum
    * its [[SnapshotDataWriter]] counted while writing it. A later export
    * links a partition with the same signature to this file instead of
    * rewriting it. Absent for files of legacy manifests; such files
    * never match.
    */
  case class FileEntry(path: String, size: Long,
                       stats: Map[String, ColumnStats] = Map.empty,
                       signature: Option[String] = None)
  /** A stored file's manifest `entry`, with the row count and row-hash
    * sum its signature records.
    */
  case class SignedFile(entry: FileEntry, rows: Long, sum: BigInteger)
  /** `dir` and `partitionBy` decode legacy partition values only:
    * entries written by earlier builds' hive-partitioned export carry
    * them, and [[SnapshotTable.of]] decodes each file's partition values
    * from its path under `dir`. No writer sets them any more, and a DSv2
    * write into such an entry fails by name.
    *
    * `txns` is the per-table idempotence ledger for at-least-once
    * writers (the Delta `SetTransaction` discipline): latest committed
    * `txnVersion` per `txnAppId`. A DSv2 write carrying
    * `option("txnAppId", app).option("txnVersion", v)` commits only if
    * `v` is GREATER than the recorded version for `app` — a replayed
    * streaming micro-batch (foreachBatch re-run after a crash between
    * the checkpoint's offset and commit writes) re-arrives with the
    * same batchId and becomes a no-op instead of a double-append.
    * The ledger survives overwrites — DSv2 truncate AND [[export]]
    * re-exports (max-per-appId merge, see [[mergeTxns]]) — because
    * writer progress is orthogonal to data replacement; so a pipeline
    * restarting from a FRESH checkpoint must use a fresh txnAppId —
    * same rule Delta documents. Manifests written before this field
    * parse as an empty ledger.
    *
    * RETENTION: entries are carried forward forever by default (one
    * Map entry — ~40 bytes of manifest JSON — per appId). That is the
    * safe default: dropping an entry re-admits that writer's replays.
    * Deployments must therefore use STABLE, FEW, LONG-LIVED appIds
    * (one per pipeline, not per deployment/run). For deployments that
    * can't (ad-hoc appIds bloat unbounded — the problem Delta's
    * setTransactionRetentionDuration exists for), each txn commit also
    * stamps `txnStamps(appId)` with the committer's epoch-ms clock,
    * and age-based expiry exists in two forms: the [[expireTxns]]
    * maintenance API, and the `txnRetentionMs` write option (sweep
    * piggybacked on the writer's own commits). Both drop ONLY stamped
    * entries older than the retention window — entries recorded by
    * pre-stamp builds have unknown age and are kept (decommission
    * those explicitly via [[dropTxns]]). The hazard is the same as
    * Delta documents: a retention shorter than a writer's longest
    * possible replay gap re-admits its replays — pick days, not
    * minutes, and see the pinned-hazard spec. Stamps come from writer
    * clocks (mixed-clock skew is noise at day granularity; the
    * filesystem-probe trick vacuum uses has no analogue here because
    * ledger entries are manifest rows, not files).
    *
    * `inputs` is the fingerprint of the parquet files [[export]] read the
    * entry's rows from, when its input was a bare `spark.read.parquet`
    * relation. A later export whose input has the same fingerprint,
    * against a parent entry with the same schema JSON and a current
    * content term, inherits the entry without reading a row. The trust
    * model: the same files (path, length, modification time), read with
    * the same options under the same schema, hold the same rows. A
    * writer that rewrites a file in place at the same length and keeps
    * its modification time, or a session conf that decodes the same
    * bytes differently (a datetime rebase mode set for the session, not
    * as an option), is outside it. The DSv2 sink builds its entries
    * without `inputs`, so an append or truncate makes the next export
    * sign the table again. Manifests written before this field parse
    * as None.
    */
  case class TableEntry(files: Seq[FileEntry], rows: Long, signature: String,
                        dir: Option[String] = None, partitionBy: Seq[String] = Nil,
                        schemaJson: Option[String] = None,
                        txns: Map[String, Long] = Map.empty,
                        txnStamps: Map[String, Long] = Map.empty,
                        inputs: Option[InputFiles] = None)
  /** One input file of [[TableEntry]] `inputs`, as its filesystem
    * reported it at export time.
    */
  case class InputFile(path: String, size: Long, modified: Long)
  /** The `files` of an input relation, sorted by path, and the SHA-256
    * of its options (options may carry credentials, so only their digest
    * is stored).
    */
  case class InputFiles(files: Seq[InputFile], options: String)
  /** `generation` is the tag's optimistic-concurrency version: every
    * committed manifest carries the predecessor's generation + 1, and a
    * committer states the generation it READ as a swap precondition
    * (see [[writeManifest]]). Manifests written before this field parse
    * as generation 0 (json4s fills the default), so legacy tags join
    * the protocol on their next commit. -1 is the reserved "no manifest
    * exists yet" reading (see [[currentGeneration]]).
    */
  case class Manifest(tag: String, parent: Option[String], tables: Map[String, TableEntry],
                      generation: Long = 0L)

  /** A manifest swap found a different generation than the committer
    * read: a concurrent writer (another JVM — in-process writers are
    * serialized by the commit lock) committed in the window. The losing
    * committer must fail LOUDLY — retrying means re-reading the new
    * manifest and re-applying the change; silently swapping would drop
    * the winner's files from the tag (lost update).
    */
  class ConcurrentSnapshotCommitException(msg: String) extends java.io.IOException(msg)

  /** Test seam (same technique as SnapshotBatchWrite.commitRaceHook):
    * fires in [[export]] after the data write, before the locked
    * commit — the window a concurrent retain() can land in.
    */
  @volatile private[graft] var exportRaceHook: () => Unit = () => ()

  /** SESSION-level Hadoop conf (`sessionState.newHadoopConf()`), not
    * `sparkContext.hadoopConfiguration`: per-session settings made via
    * `spark.conf.set("spark.hadoop.fs.s3a...", ...)` — the standard
    * per-session credential pattern — exist only in the former. The
    * scan/write executors already receive this conf (SnapshotSource);
    * manifest IO must resolve filesystems from the same source or a
    * write succeeds on the executors and then dies at commit.
    */
  private def hadoopConf(s: SparkSession) = s.sessionState.newHadoopConf()

  private def fs(s: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(hadoopConf(s))

  private def manifestPath(root: String, tag: String) = new Path(s"$root/$tag/manifest.json")

  // --- manifest JSON (json4s ships with Spark) ---
  import org.json4s._
  import org.json4s.jackson.Serialization
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  /** Atomic swap: the manifest is written to a temp sibling and
    * renamed OVER the destination, so a reader sees the old manifest
    * or the new one — never a truncated file and (on capable
    * filesystems) never a missing one. A manifest-not-found window is
    * NOT harmless: listTags drops a manifest-less tag, so a
    * concurrently-running vacuum would treat every file of the tag as
    * orphaned and delete committed data, and the DSv2 committer would
    * silently rebuild the tag with only its own table.
    *
    * The replace is scheme-aware, because Hadoop gives no single
    * atomic-overwrite primitive (verified against the shipped
    * hadoop-client 3.4.2: `FileContext.rename(OVERWRITE)` on LOCAL
    * files falls through to AbstractFileSystem's default
    * delete-then-rename — only HDFS overrides it atomically):
    *  - `file:` → `java.nio.Files.move(ATOMIC_MOVE|REPLACE_EXISTING)`,
    *    a single rename(2) — genuinely atomic;
    *  - schemes with an AbstractFileSystem binding (hdfs: etc.) →
    *    `FileContext.rename(OVERWRITE)` — atomic where the FS supports
    *    it;
    *  - anything else → documented non-atomic delete+rename fallback
    *    (an object-store deployment would use a conditional PUT).
    *
    * Failure domains are separated: a failure while WRITING the temp
    * file deletes it (the live manifest is untouched). A failure
    * during the SWAP leaves the temp file in place and names it in the
    * error — in the non-atomic fallback it may be the only complete
    * copy of the manifest, and deleting it would turn a recoverable
    * crash into permanent tag loss.
    *
    * Cross-JVM lost-update DETECTION (`expectedGeneration`): the
    * in-process commit lock cannot see a second JVM, so two
    * applications committing one tag could each read generation g and
    * both swap — the first swap silently vanishes. With
    * `expectedGeneration = Some(g)` the swap re-reads the destination's
    * current generation UNDER a commit marker and throws
    * [[ConcurrentSnapshotCommitException]] on mismatch, so the loser
    * fails loudly with the winner's manifest intact. The marker is
    * scheme-aware, mirroring the swap itself:
    *  - `file:` → NIO `Files.createFile` of `.manifest.commit-marker` —
    *    create-exclusive is a single atomic open(O_CREAT|O_EXCL);
    *  - other schemes → `FileSystem.create(marker, overwrite=false)` —
    *    atomic on HDFS, documented best-effort on object stores (a real
    *    S3 deployment would use a conditional PUT for the manifest
    *    itself and need no marker);
    *  - a filesystem that cannot create-exclusive at all degrades to a
    *    marker-less check-then-swap (narrow TOCTOU window, still
    *    catches every non-adjacent race).
    * A crashed committer can leave a stale marker; acquisition retries
    * for ~10 s and then fails naming the marker path so an operator can
    * remove it — blocking loudly beats corrupting silently.
    *
    * Behavior table (race = two committers with the same
    * expectedGeneration; "adjacent" = their check and swap windows
    * overlap, "non-adjacent" = one fully commits before the other
    * swaps). SnapshotNoExclusiveFsSpec drives the degraded row:
    * {{{
    * store capability            marker mechanism        adjacent race      non-adjacent race
    * file:                       NIO O_CREAT|O_EXCL      caught (marker)    caught (generation)
    * create-exclusive (HDFS)     create(overwrite=false) caught (marker)    caught (generation)
    * best-effort create (S3-ish) create(overwrite=false) likely caught      caught (generation)
    * no create-exclusive (UOE)   none (degraded)         TOCTOU window      caught (generation)
    * }}}
    * In every row the non-adjacent lost-update class — the one that
    * silently discards a committed manifest — is caught by the
    * generation re-read; only marker quality varies.
    */
  def writeManifest(s: SparkSession, root: String, m: Manifest,
                    expectedGeneration: Option[Long] = None): Unit = {
    val f = fs(s, root)
    val p = f.makeQualified(manifestPath(root, m.tag))
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    try {
      val out = f.create(tmp, false)
      try out.write(Serialization.write(m).getBytes("UTF-8")) finally out.close()
    } catch {
      case e: Throwable =>
        try f.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
    val scheme = Option(p.toUri.getScheme).getOrElse("file")
    val marker = expectedGeneration.map { g =>
      val mk = acquireCommitMarker(f, p, scheme)
      val found = currentGeneration(s, root, m.tag)
      if (found != g) {
        mk.foreach(release => release())
        try f.delete(tmp, false) catch { case _: Exception => () }
        throw new ConcurrentSnapshotCommitException(
          s"concurrent commit on tag '${m.tag}': read generation $g but the " +
            s"manifest is now at generation $found — a concurrent writer " +
            "committed in the window; re-read the manifest and re-apply " +
            "(this committer's data files are unreferenced and will be " +
            "swept by vacuum)")
      }
      mk
    }
    try {
      if (scheme == "file") {
        java.nio.file.Files.move(
          java.nio.file.Paths.get(f.makeQualified(tmp).toUri),
          java.nio.file.Paths.get(p.toUri),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } else {
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            p.toUri, hadoopConf(s))
          fc.rename(f.makeQualified(tmp), p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            // no AbstractFileSystem binding (gs:, custom FS): legacy
            // delete+rename through the FileSystem API — non-atomic,
            // window documented above
            if (f.exists(p)) f.delete(p, false)
            if (!f.rename(tmp, p))
              throw new java.io.IOException(
                s"manifest commit failed: rename $tmp -> $p (tmp left for recovery)")
        }
      }
    } catch {
      case e: Throwable =>
        // do NOT delete tmp here: in the fallback path the destination
        // may already be gone, making tmp the only surviving copy
        throw new java.io.IOException(
          s"manifest swap failed for ${m.tag}; recover from $tmp", e)
    } finally marker.foreach(_.foreach(release => release()))
  }

  /** Marker acquisition patience before failing loudly — a var only so
    * the stale-marker spec doesn't wait the full production 10 s.
    */
  @volatile private[graft] var commitMarkerTimeoutNanos: Long = 10L * 1000 * 1000 * 1000

  /** Create-exclusive commit marker beside the manifest; returns a
    * release thunk, or None when the filesystem cannot create-exclusive
    * (degrade to marker-less check, documented in [[writeManifest]]).
    * Retries ~10 s against a held marker, then fails naming it.
    */
  private def acquireCommitMarker(f: FileSystem, manifest: Path,
                                  scheme: String): Option[() => Unit] = {
    val mk = new Path(manifest.getParent, s".${manifest.getName}.commit-marker")
    val deadline = System.nanoTime() + commitMarkerTimeoutNanos
    while (true) {
      try {
        if (scheme == "file") {
          val nio = java.nio.file.Paths.get(f.makeQualified(mk).toUri)
          java.nio.file.Files.createFile(nio)
          return Some(() =>
            try java.nio.file.Files.deleteIfExists(nio) catch { case _: Exception => () })
        } else {
          f.create(mk, false).close()
          return Some(() =>
            try f.delete(mk, false) catch { case _: Exception => () })
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException
             | _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          if (System.nanoTime() > deadline)
            throw new ConcurrentSnapshotCommitException(
              s"commit marker $mk held for >10s — a concurrent committer is " +
                "stuck or crashed mid-swap; verify no writer is live, then " +
                "remove the marker to recover")
          Thread.sleep(20)
        case _: UnsupportedOperationException => return None
      }
    }
    None // unreachable
  }

  /** The tag's current committed generation, or -1 when no manifest
    * exists — the value a committer passes back as its swap
    * precondition.
    */
  def currentGeneration(s: SparkSession, root: String, tag: String): Long =
    try readManifest(s, root, tag).generation
    catch { case _: java.io.FileNotFoundException => -1L }

  /** One existence probe (single filesystem call — listTags pays one
    * RPC per tag directory, which catalog hot paths must not).
    */
  def tagExists(s: SparkSession, root: String, tag: String): Boolean =
    fs(s, root).exists(manifestPath(root, tag))

  def readManifest(s: SparkSession, root: String, tag: String): Manifest = {
    val p = manifestPath(root, tag)
    val in = fs(s, root).open(p)
    try Serialization.read[Manifest](new java.io.InputStreamReader(in, "UTF-8"))
    finally in.close()
  }

  /** The exact sum of every content signature's per-row term, kept as
    * a 128-bit two's-complement pair so no sum wraps. The term is XXH64,
    * seed 42, over the bytes of the row's `UnsafeRow` form: the null
    * bitset, the fixed-width slots (zeroed for a NULL) and the
    * variable-length section with its padding zeroed. So where a NULL
    * sits is part of the hash: `(1, NULL, 5)` and `(1, 5, NULL)`,
    * `[5, NULL]` and `[5]`, an empty array and a NULL all differ. Every
    * column is bound by ordinal and taken as nullable, so a column name
    * is never re-parsed and the declared nullability cannot change the
    * bytes. Equal values in different bit patterns (NaN payloads, -0.0,
    * map entry order) hash apart, which costs a rewrite, never a false
    * match. A row that arrives as an `UnsafeRow` of the schema's width
    * (what Spark's operators and scans emit) is hashed as it stands,
    * without the copy: Spark's row writers zero null slots and padding,
    * so its bytes are the projection's. The projection is compiled in
    * the task that creates this.
    */
  private[sources] final class HashSum(schema: StructType) {
    private val proj = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, nullable = true)
    })
    private var hi, lo = 0L
    def add(row: InternalRow): Unit = {
      val u = row match {
        case u: UnsafeRow if u.numFields == schema.length => u
        case _ => proj(row)
      }
      val x = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      val sum = lo + x
      // sign extension of x, plus the carry out of the unsigned low word
      hi += (x >> 63) + (if (java.lang.Long.compareUnsigned(sum, lo) < 0) 1L else 0L)
      lo = sum
    }
    /** The sum so far; the next sum starts from zero. */
    def take(): BigInteger = {
      val v = BigInteger.valueOf(hi).shiftLeft(64).add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
      hi = 0L
      lo = 0L
      v
    }
  }

  /** Each partition's (row count, [[HashSum]]) of every table, from ONE
    * job for all tables, with no shuffle: the job runs over the union of
    * the tables' pinned RDDs, each task tagged with its table's index
    * and its partition's, and hashes the rows directly, with no
    * per-table query plan. A table signature adds its partitions up; a
    * partition's own signature (same format, its own rows and sum) is
    * what [[export]] matches against the parent's files. The sum is
    * commutative and exact, so partition order and parallelism cannot
    * change it.
    */
  private def partitionSums(s: SparkSession, rdds: Seq[RDD[InternalRow]],
                            schemas: Seq[StructType]): Seq[Seq[(Long, BigInteger)]] = {
    val tagged = rdds.indices.map { t =>
      val schema = schemas(t)
      rdds(t).mapPartitionsWithIndex { (i, it) =>
        val sum = new HashSum(schema)
        var rows = 0L
        while (it.hasNext) {
          sum.add(it.next())
          rows += 1
        }
        Iterator((t, i, rows, sum.take()))
      }
    }
    val byTable =
      if (tagged.isEmpty) Map.empty[Int, Array[(Int, Int, Long, BigInteger)]]
      else s.sparkContext.union(tagged).collect().groupBy(_._1)
    rdds.indices.map { t =>
      byTable.getOrElse(t, Array.empty).sortBy(_._2).toSeq.map { case (_, _, n, h) => n -> h }
    }
  }

  /** The version of the content term. The term's row hash once skipped
    * NULLs; a signature without this version never equals one with it,
    * so a table signed before the change is rewritten once instead of
    * matched by a hash that cannot see where a NULL sits.
    */
  private val ContentVersion = "h2"

  /** A table's or a file's content signature: row count, schema hash,
    * and the versioned content term, the exact [[HashSum]] over the
    * rows (`empty` for none). The sum is commutative, so two writers
    * that hold the same rows in any files sign alike: [[export]] signs
    * partitions, every [[SnapshotDataWriter]] signs the files it writes,
    * and a table's signature is the sum over its files. Without the
    * content term, a change that preserves row count and schema (an
    * UPDATE) would silently inherit the parent's stale files — wrong
    * data, not a degraded mode — so a signature without one (a legacy
    * entry, or an append onto one) never equals any export's.
    */
  private[sources] def signatureOf(schema: StructType, rows: Long,
                                   content: Option[BigInteger] = None): String = {
    val prefix = s"$rows:${schema.catalogString.hashCode}"
    content.fold(prefix)(c => s"$prefix:$ContentVersion:${if (rows == 0) "empty" else c}")
  }

  /** The content sum `entry`'s signature carries for `schema`: its
    * number, zero for `empty`, None when it has no content term of the
    * current version.
    */
  private[sources] def contentOf(entry: TableEntry, schema: StructType): Option[BigInteger] = {
    val prefix = s"${signatureOf(schema, entry.rows)}:$ContentVersion:"
    if (!entry.signature.startsWith(prefix)) None
    else entry.signature.substring(prefix.length) match {
      case "empty" => Some(BigInteger.ZERO)
      case n => scala.util.Try(new BigInteger(n)).toOption
    }
  }

  /** The row count `file`'s signature records; None for an unsigned file. */
  private[sources] def signedRows(file: FileEntry): Option[Long] =
    file.signature.flatMap(_.takeWhile(_ != ':').toLongOption)

  /** Tags and table names become filesystem path segments under
    * `root`. A slashed tag (`x/y`) commits `root/x/y/manifest.json` —
    * a manifest [[listTags]] (depth-1) never sees — so a later
    * [[vacuum]] treats every file it references as unreferenced and
    * DELETES COMMITTED DATA; traversal shapes (`..`) escape the root
    * entirely. The SQL catalog has always rejected these
    * (SnapshotCatalog.safeSegment); the programmatic writers must too,
    * BEFORE any file lands. Read paths stay unguarded: a slashed tag
    * can no longer exist, so reads just FileNotFound.
    */
  private[graft] def requireSafeSegment(kind: String, v: String): Unit =
    if (v == null || v.isEmpty || v == "." || v == ".." ||
        v.exists(c => c == '/' || c == '\\' || c == '\u0000'))
      throw new IllegalArgumentException(
        s"$kind ${Option(v).map(x => s"'$x'").getOrElse("null")} must be a single " +
          "path segment (no /, \\, NUL, '.', '..'): a slashed or traversal-shaped " +
          "name commits a manifest listTags never sees, and vacuum would then sweep " +
          "its referenced files as orphans")

  /** Export `tables` as snapshot `tag`. With a parent, tables whose
    * signature is unchanged are linked to the parent's files instead
    * of rewritten (incremental transfer).
    *
    * A table whose input is provably the parent entry's content inherits
    * that entry without reading a row. Each proof needs a parent entry
    * of the same name with a current content term and the input's
    * schema JSON, and one of:
    *  - the input is a bare read of a [[SnapshotTable]] (no filter, no
    *    projection) under the same qualified root whose files are the
    *    parent entry's: snapshot files are immutable, so the rows are the
    *    parent's;
    *  - the input is a bare `spark.read.parquet` relation whose
    *    [[InputFiles]] fingerprint, taken by a fresh `getFileStatus` per
    *    file that also matches the relation's own listing, equals the
    *    parent entry's `inputs` (trust model at [[TableEntry]]).
    * Export records `inputs` on every entry of a parquet-relation input,
    * whether it writes, links or inherits it.
    *
    * Every other table's DataFrame is planned once and its row RDD
    * pinned. An export then runs at most TWO Spark jobs, whatever the
    * number of tables:
    *  - ONE job signs the partitions of every table the parent has an
    *    entry of the same name for and that is not proven unchanged
    *    ([[partitionSums]]); the driver then decides each such table:
    *    inherit the parent's entry whole (equal signature), or link its
    *    partitions that equal a parent file and write the others. A
    *    table the parent lacks is not signed, since there is nothing to
    *    compare it with: all its partitions are written, so a first
    *    export reads each input row once;
    *  - ONE job writes every partition to be written, of every table,
    *    into its table's fresh generation dir through the DSv2 sink's
    *    [[SnapshotDataWriter]], the only writer of snapshot files. Its
    *    tasks see the same rows in partition `i` as the signature job,
    *    and linked partitions are pruned from it, never recomputed.
    *
    * Signatures describe what is stored. A written file is signed by the
    * rows and hash sum its writer counted; a linked file keeps its
    * parent signature, which the partition matched. A table's signature
    * is the sum over its files, so an export that writes every file
    * signs as one that signs first, and a nondeterministic input is
    * signed by the rows it stored, not by the signature job's.
    *
    * File by file: a non-empty partition whose signature equals a parent
    * file's links to that file; each parent file stands for at most one
    * partition, so two identical partitions still get two files.
    * Matching is scoped to a parent entry with the same schema JSON: the
    * row hash ignores column names, so a rename with identical values
    * must not inherit. Parent files without a signature (legacy
    * manifests) never match. Empty partitions write nothing, so an empty
    * table is an entry with no files. A partition over
    * `spark.sql.files.maxRecordsPerFile` rows is written as several
    * files, each signed. Column types Spark's parquet writer cannot
    * store fail the export before any job runs. If the write job fails,
    * the fresh generation dirs it wrote into are deleted.
    *
    * Each write lands in a FRESH generation directory
    * `root/<tag>/<table>/g-<uuid>` — never `mode("overwrite")` into a
    * fixed path, which would DELETE the live generation's data files
    * while the current manifest still references them (a crash or a
    * concurrent reader between that delete and the manifest swap loses
    * committed data). The old generation stays on disk, unreferenced
    * once the new manifest lands, and vacuum() sweeps it — the same
    * write-new/swap/sweep discipline the DSv2 committer uses. The
    * manifest swap serializes on the DSv2 commit lock, so a swap never
    * interleaves with a DSv2 commit's read-modify-write — but note the
    * SEMANTICS: export REPLACES the tag's table set wholesale (the
    * caller declares the complete snapshot), so a table appended to
    * the same tag by a concurrent DSv2 writer and not included in
    * `tables` is dropped from the new manifest by design. Don't mix
    * live appends and exports on one tag; use separate tags with a
    * parent link.
    */
  def export(s: SparkSession, tables: Map[String, DataFrame], root: String,
             tag: String, parent: Option[String] = None): Manifest = {
    requireSafeSegment("snapshot tag", tag)
    // the parent tag is a path segment too: export(parent=Some("x/y"))
    // would readManifest a traversal-shaped path outside/below root and
    // inherit ITS file entries into the committed manifest (advice r15)
    parent.foreach(requireSafeSegment("snapshot parent tag", _))
    tables.keys.foreach(requireSafeSegment("snapshot table name", _))
    tables.foreach { case (name, df) => SnapshotWriterFactory.requireStorable(name, df.schema) }
    val parentManifest = parent.map(readManifest(s, root, _))
    val named = tables.toSeq
    val parents = named.map { case (name, _) => parentManifest.flatMap(_.tables.get(name)) }
    // fingerprinted before any job reads a row, so a file changed during
    // the export is signed again next time
    val inputs = named.map { case (_, df) => inputsOf(s, df) }
    // generation dirs are qualified, so manifest paths name their filesystem
    val rootQ = fs(s, root).makeQualified(new Path(root))
    val proven = named.indices.map { t =>
      parents(t).filter(provenUnchanged(s, rootQ, named(t)._2, inputs(t), _))
    }
    // pin the partitions: one planned RDD per unproven table feeds the
    // signature job and the write, so partition i holds the same rows in both
    val rdds = named.indices.filter(proven(_).isEmpty).map(t => t -> named(t)._2.queryExecution.toRdd).toMap
    // only a table with a parent entry has anything to match; the others
    // are signed by the write alone
    val signed = named.indices.filter(t => rdds.contains(t) && parents(t).isDefined)
    val sums = signed.zip(partitionSums(s, signed.map(rdds), signed.map(named(_)._2.schema))).toMap
    val plans = named.indices.map { t =>
      val (name, df) = named(t)
      if (proven(t).isDefined) TablePlan(name, df.schema, "", proven(t), Nil)
      else planTable(s"$rootQ/$tag", name, df.schema, rdds(t).getNumPartitions, sums.get(t), parents(t))
    }
    val written = writeParts(s, plans, rdds)
    val entries = plans.indices.map { t =>
      val e = plans(t).inherited.getOrElse(storedEntry(plans(t), written, t))
      plans(t).name -> inputs(t).fold(e)(i => e.copy(inputs = Some(i)))
    }.toMap
    exportRaceHook() // test seam: the pre-commit window a concurrent retain can land in
    // OCC commit: the generation read and the preconditioned swap sit in
    // one locked region (in-process writers serialize on the lock; a
    // second JVM is caught by the generation precondition and fails
    // loudly instead of silently dropping this or the other export)
    SnapshotBatchWrite.commitLock.synchronized {
      // Inherited-reference integrity (r18): between the parent-manifest
      // read above and this commit, retention can sweep the parent tag
      // (or an older ancestor owning inherited files) WHOLESALE — it
      // cannot see this export (no manifest yet), and vacuum-style age
      // grace cannot help because inherited files are legitimately old.
      // Committing anyway would publish a manifest referencing deleted
      // files: silent data loss, found only at read. Verify every
      // distinct owner tag of the entries' file references still has a
      // manifest, INSIDE the same lock retain() takes, and lose loudly
      // otherwise (the retention won; this export's inherited sources
      // are gone). The exporting tag itself is excluded — its manifest
      // is the one being written. Every file of every entry is checked,
      // not one per entry: a file-granular entry links files owned by
      // several ancestor tags.
      val owners = entries.values.flatMap(_.files.map(fe => new Path(fe.path)))
        .flatMap(ownerTagOf(fs(s, root), rootQ)).toSet - tag
      val swept = owners.filterNot(tagExists(s, root, _))
      if (swept.nonEmpty)
        throw new ConcurrentSnapshotCommitException(
          s"export of tag '$tag' lost to concurrent retention: inherited file " +
            s"references point into swept tag(s) ${swept.toSeq.sorted.mkString(", ")} " +
            "(their manifests no longer exist) — the data is gone; re-run the " +
            "export against a surviving parent")
      // The txns ledger survives export overwrites (same invariant the
      // DSv2 overwrite honors — TableEntry's doc): writer progress is
      // orthogonal to data replacement. Without this merge a nightly
      // re-export beside an at-least-once streaming appender would
      // silently reset the appender's recorded versions, and its next
      // replayed micro-batch would double-commit. Read the CURRENT tag
      // manifest under the same lock the swap uses, so a DSv2 commit
      // can't record a version between this read and the swap (a
      // second JVM in that window is caught by the generation
      // precondition instead). Max-per-appId merge: never regress a
      // writer's recorded progress, whichever side (current tag, or a
      // parent-inherited entry) recorded more of it.
      val current = try readManifest(s, root, tag).tables
                    catch { case _: java.io.FileNotFoundException => Map.empty[String, TableEntry] }
      val withLedgers = entries.map { case (name, e) =>
        val cur = current.get(name)
        val carried = mergeTxns(e.txns, cur.map(_.txns).getOrElse(Map.empty))
        val stamps = mergeTxns(e.txnStamps, cur.map(_.txnStamps).getOrElse(Map.empty))
        name -> (if (carried == e.txns && stamps == e.txnStamps) e
                 else e.copy(txns = carried, txnStamps = stamps))
      }
      val g = currentGeneration(s, root, tag)
      val m = Manifest(tag, parent, withLedgers, generation = g + 1)
      writeManifest(s, root, m, expectedGeneration = Some(g))
      m
    }
  }

  /** Partition `index` of a table [[export]] stores: linked to the
    * `parent` file, which holds the partition's rows, or written when
    * that is None.
    */
  private case class Part(index: Int, parent: Option[SignedFile])

  /** [[export]]'s driver-side decision for one table: the parent's
    * entry when it is `inherited` whole, else its `parts`, linked or
    * written into `dir`.
    */
  private case class TablePlan(name: String, schema: StructType, dir: String,
                               inherited: Option[TableEntry], parts: Seq[Part])

  /** One table of [[export]], decided before any data moves: from its
    * [[partitionSums]] result when it was signed, else every one of its
    * `numParts` partitions is written.
    */
  private def planTable(tagDir: String, name: String, schema: StructType, numParts: Int,
                        sums: Option[Seq[(Long, BigInteger)]],
                        parentEntry: Option[TableEntry]): TablePlan = {
    val dir = s"$tagDir/$name/g-${java.util.UUID.randomUUID().toString.take(8)}"
    sums match {
      case None => TablePlan(name, schema, dir, None, (0 until numParts).map(Part(_, None)))
      case Some(ps) =>
        val rows = ps.map(_._1).sum
        val sig = signatureOf(schema, rows, Some(ps.map(_._2).foldLeft(BigInteger.ZERO)(_ add _)))
        val inherited = parentEntry.filter(_.signature == sig)
        val parts = if (inherited.isDefined) Nil else {
          val parentFiles = parentEntry.filter(_.schemaJson.contains(schema.json)).toSeq.flatMap(_.files)
          val pool = scala.collection.mutable.Map(
            parentFiles.filter(_.signature.isDefined).groupBy(_.signature.get).toSeq: _*)
          ps.indices.filter(ps(_)._1 > 0).map { i =>
            val (n, h) = ps(i)
            val fileSig = signatureOf(schema, n, Some(h))
            Part(i, pool.get(fileSig) match {
              case Some(file +: rest) => pool(fileSig) = rest; Some(SignedFile(file, n, h))
              case _ => None
            })
          }
        }
        TablePlan(name, schema, dir, inherited, parts)
    }
  }

  /** Whether `df` provably holds the rows of `parent`, so [[export]]
    * inherits the entry without signing it: a bare read of a
    * [[SnapshotTable]] under `rootQ` over the parent's files, or a
    * parquet relation whose `inputs` fingerprint is the parent's.
    */
  private def provenUnchanged(s: SparkSession, rootQ: Path, df: DataFrame,
                              inputs: Option[InputFiles], parent: TableEntry): Boolean =
    parent.schemaJson.contains(df.schema.json) && contentOf(parent, df.schema).isDefined &&
      (df.queryExecution.analyzed match {
        case r: DataSourceV2Relation => r.table match {
          case t: SnapshotTable =>
            r.output.map(_.name) == t.schema().fieldNames.toSeq && t.files == parent.files &&
              fs(s, t.root).makeQualified(new Path(t.root)) == rootQ
          case _ => false
        }
        case _ => inputs.isDefined && parent.inputs == inputs
      })

  /** The [[InputFiles]] fingerprint of `df` when it is a bare parquet
    * relation whose file listing still matches the filesystem: a fresh
    * `getFileStatus` of each file must report the length and
    * modification time the relation listed. None otherwise.
    */
  private def inputsOf(s: SparkSession, df: DataFrame): Option[InputFiles] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] => h.location match {
          case idx: PartitioningAwareFileIndex =>
            val conf = s.sessionState.newHadoopConfWithOptions(h.options)
            val listed = idx.allFiles()
            val fresh = listed.flatMap { st =>
              scala.util.Try(st.getPath.getFileSystem(conf).getFileStatus(st.getPath)).toOption
                .filter(now => now.getLen == st.getLen && now.getModificationTime == st.getModificationTime)
                .map(now => InputFile(now.getPath.toString, now.getLen, now.getModificationTime))
            }
            val options = h.options.map { case (k, v) => s"${k.toLowerCase(java.util.Locale.ROOT)}=$v" }
              .toSeq.sorted.mkString("\n")
            val digest = java.security.MessageDigest.getInstance("SHA-256").digest(options.getBytes("UTF-8"))
            if (fresh.size != listed.size) None
            else Some(InputFiles(fresh.sortBy(_.path), digest.map(b => f"$b%02x").mkString))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** ONE job writing every unlinked part of every plan: a task per
    * part writes its partition of the table's pinned RDD in `rdds`
    * into its table's dir through a [[SnapshotDataWriter]] prepared like
    * the DSv2 sink's. Returns the files each task wrote, by (plan index,
    * partition index). If the job fails, the dirs it wrote into are
    * deleted.
    */
  private def writeParts(s: SparkSession, plans: Seq[TablePlan], rdds: Map[Int, RDD[InternalRow]])
      : Map[(Int, Int), Seq[SignedFile]] = {
    val writes = plans.zipWithIndex.flatMap { case (p, t) =>
      // ascending, as PartitionPruningRDD keeps them: task j holds ids(j)
      val ids = p.parts.filter(_.parent.isEmpty).map(_.index).toArray
      if (ids.isEmpty) None
      else {
        val writers = SnapshotWriterFactory(s, p.dir, p.schema)
        Some(p.dir -> PartitionPruningRDD.create(rdds(t), ids.toSet).mapPartitionsWithIndex {
          (j, it) => Iterator((t, ids(j), writers.writeAll(ids(j), it).files))
        })
      }
    }
    if (writes.isEmpty) Map.empty
    else try s.sparkContext.union(writes.map(_._2)).collect().map { case (t, i, f) => (t, i) -> f }.toMap
    catch {
      case e: Throwable =>
        writes.foreach { case (dir, _) =>
          try fs(s, dir).delete(new Path(dir), true) catch { case _: Exception => () }
        }
        throw e
    }
  }

  /** The entry of a table [[export]] linked or wrote: its files in
    * partition order, and a signature summed over them.
    */
  private def storedEntry(p: TablePlan, written: Map[(Int, Int), Seq[SignedFile]],
                          t: Int): TableEntry = {
    val files = p.parts.flatMap(part => part.parent.fold(written.getOrElse((t, part.index), Nil))(Seq(_)))
    val rows = files.map(_.rows).sum
    TableEntry(files.map(_.entry), rows,
      signatureOf(p.schema, rows, Some(files.map(_.sum).foldLeft(BigInteger.ZERO)(_ add _))),
      schemaJson = Some(p.schema.json))
  }

  /** Max-per-appId union of two txns ledgers: each writer's recorded
    * progress is the furthest version EITHER side saw — merging can
    * only make the replay check stricter, never re-admit a replay.
    * Reused for `txnStamps` (max epoch-ms per appId): the freshest
    * stamp either side saw, so a merge can only make age-based expiry
    * LATER, never drop an entry a fresher stamp would have kept.
    */
  private[graft] def mergeTxns(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).iterator.map { k =>
      k -> math.max(a.getOrElse(k, Long.MinValue), b.getOrElse(k, Long.MinValue))
    }.toMap

  /** Every file under `dir`, found by a recursive `listStatus` walk —
    * the shape of Spark's own leaf-file listing. Hadoop's recursive
    * file iterator would wrap each entry in a `LocatedFileStatus`, whose
    * constructor loads the file's permission, owner and group; without
    * native Hadoop the local filesystem answers that with one forked
    * shell command per file, and vacuum uses no block locations.
    * Paths, `.crc` filtering (ChecksumFileSystem's `listStatus`) and modification
    * times are the filesystem's own. A missing `dir` throws
    * FileNotFoundException.
    */
  private def leafFiles(f: FileSystem, dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (dirs, files) = f.listStatus(dir).toSeq.partition(_.isDirectory)
    files ++ dirs.flatMap(d => leafFiles(f, d.getPath))
  }

  /** Harvest per-file min/max for int32/int64 columns from the parquet
    * footer (one metadata read per file, done once by the
    * [[SnapshotDataWriter]] that wrote it). A column appears only if
    * EVERY row group has trustworthy statistics; integer stats are exact
    * in parquet-mr, so presence ⇒ correctness. Errors degrade to "no
    * stats" — pruning is always advisory.
    */
  private[sources] def footerStats(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : Map[String, ColumnStats] =
    try {
      // the SESSION's Hadoop conf, not a bare `new Configuration()` —
      // a configured filesystem (S3 credentials, HA nameservice) would
      // otherwise fail to resolve here, the catch-all would swallow it,
      // and every manifest would silently carry no stats (no pruning)
      val inputFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inputFile)
      try {
        import scala.jdk.CollectionConverters._
        val acc = scala.collection.mutable.Map.empty[String, ColumnStats]
        val dropped = scala.collection.mutable.Set.empty[String]
        reader.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            if (!dropped(name)) {
              val st = c.getStatistics
              val bounds: Option[(Long, Long)] =
                if (st == null || st.isEmpty || !st.hasNonNullValue) None
                else (st.genericGetMin, st.genericGetMax) match {
                  case (mn: java.lang.Long, mx: java.lang.Long) =>
                    Some((mn.longValue(), mx.longValue()))
                  case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                    Some((mn.longValue(), mx.longValue()))
                  case _ => None
                }
              bounds match {
                case Some((mn, mx)) =>
                  acc.updateWith(name) {
                    case Some(prev) => Some(ColumnStats(math.min(prev.min, mn), math.max(prev.max, mx)))
                    case None => Some(ColumnStats(mn, mx))
                  }
                case None => dropped += name; acc.remove(name)
              }
            }
          }
        }
        acc.toMap
      } finally reader.close()
    } catch { case _: Exception => Map.empty }

  private def parseInstant(t: String): Option[java.time.Instant] =
    try Some(java.time.Instant.parse(t))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** Fixed 9-digit-fraction UTC rendering — the CANONICAL ordering key
    * for ISO tags. Fixed-width ISO strings compare lexicographically in
    * chronological order, and 9 digits preserve full Instant precision
    * (the catalog's 6-digit query rendering parses and re-canonicalizes
    * to this form, so both widths agree).
    */
  private val canonicalTagFormatter: java.time.format.DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("uuuu-MM-dd'T'HH:mm:ss")
      .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 9, 9, true)
      .appendLiteral('Z')
      .toFormatter
      .withZone(java.time.ZoneOffset.UTC)

  /** Canonical asOf ordering key: a tag that parses as an ISO-8601
    * instant maps to its fixed-width rendering, anything else maps to
    * itself. Mixed-precision ISO tags do not sort lexicographically by
    * time — a whole-second tag `…T10:00:00Z` (natural `Instant.toString`
    * output) compares AFTER the catalog's fixed 6-digit query rendering
    * `…T10:00:00.000000Z` because `'Z' > '.'`, so TIMESTAMP AS OF at the
    * exact commit instant would exclude that snapshot (advice r16;
    * time-travel semantics include equal timestamps).
    *
    * Ordering BY A DERIVED KEY rather than comparing (parsed, raw) pairs
    * pairwise is what makes this a genuine total order: pairwise
    * instant-vs-string comparison cycles when a non-ISO tag string-sorts
    * BETWEEN two same-second mixed-precision ISO tags (a<b by instant,
    * b<z and z<a by string), and max-selection under a cyclic comparator
    * can return a non-newest tag.
    *
    * Years outside 0000-9999 are GUARDED, not a caveat (advice r17 /
    * roadmap §7.9.13 (d) closure): `Instant.parse` accepts
    * sign-prefixed years (`+10000-…`, `-0001-…`) whose natural ISO
    * renderings break lexicographic chronology against 4-digit years
    * (`'+' < '0'` puts year 10000 BEFORE year 0000; negative years
    * reverse within themselves). Out-of-range years get an
    * offset-encoded fixed-width key in a disjoint prefix class:
    * `'!'` + zero-padded (year+1e9) for negatives (ASCII `'!' < '0'`,
    * so they sort before every in-range key, ascending within), and
    * `'~'` + zero-padded year for 5+-digit years (`'~' > '9'`, after
    * every in-range key). In-range keys are byte-identical to the
    * pre-guard rendering, so existing on-disk orderings are unchanged.
    */
  private val tagKeyRestFormatter: java.time.format.DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("'-'MM-dd'T'HH:mm:ss")
      .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 9, 9, true)
      .appendLiteral('Z')
      .toFormatter
      .withZone(java.time.ZoneOffset.UTC)

  private[graft] def tagKey(t: String): String =
    parseInstant(t) match {
      case None => t
      case Some(i) =>
        val y = i.atOffset(java.time.ZoneOffset.UTC).getYear
        if (y >= 0 && y <= 9999) canonicalTagFormatter.format(i)
        // Instant years span ±1e9, so year+1e9 ∈ [0, 999999999] for
        // negatives and year ≤ 1e9 for the high side: both fit 10
        // zero-padded digits, keeping each class lexicographically
        // chronological
        else if (y < 0) f"!${y + 1000000000}%010d${tagKeyRestFormatter.format(i)}"
        else f"~$y%010d${tagKeyRestFormatter.format(i)}"
    }

  /** `tag` at-or-before `asOf` under the canonical key (equal instants
    * are INCLUDED, whatever precision each side rendered with).
    */
  private[graft] def tagLeq(tag: String, asOf: String): Boolean =
    tagKey(tag) <= tagKey(asOf)

  /** Newest-tag selection under the same canonical key as [[tagLeq]],
    * with SAME-INSTANT ties broken on the raw tag string (advice r17):
    * two manifests tagged at the same instant in different renderings
    * (`…00Z` vs `…00.000000Z`) collapse to one key, and without the
    * tie-break `maxOption` returns whichever listTags happened to
    * yield first — implementation-defined. The raw-string tie-break
    * makes newest-selection deterministic; [[tagLeq]] deliberately
    * stays key-only (AS OF at an instant includes EVERY tag at that
    * instant, whatever its rendering — equal instants must be mutually
    * leq), so the two agree everywhere except that the ordering
    * separates same-key ties the predicate treats as equal.
    */
  private[graft] val tagOrdering: Ordering[String] =
    Ordering.by((t: String) => (tagKey(t), t))

  /** Time-travel resolution: the snapshot manifest in effect "as of"
    * `asOf` (tags are sortable strings — ISO timestamps in production,
    * so `asOf` is a tag OR any timestamp between two tags).
    *
    * With `from` set, the parent chain of that tag is walked until a
    * manifest whose tag is <= asOf — lineage-respecting, so a fork's
    * history resolves within the fork. Without `from`, the newest
    * catalog tag <= asOf wins ([[tagOrdering]]: instant order when
    * both sides parse ISO, string order otherwise). Either way the answer
    * is a manifest that actually existed — never a synthetic mix of
    * generations. One manifest read per hop, no data I/O.
    */
  def resolveAsOf(s: SparkSession, root: String, asOf: String,
                  from: Option[String] = None): Manifest = from match {
    case Some(start) =>
      var cur = Option(start)
      // a corrupt manifest whose parent chain loops (self-referential or
      // mutual parents, all tags > asOf) must fail, not spin forever
      val visited = scala.collection.mutable.LinkedHashSet.empty[String]
      while (cur.isDefined) {
        if (!visited.add(cur.get))
          throw new IllegalArgumentException(
            s"asOf='$asOf': parent chain from '$start' cycles at " +
              s"'${cur.get}' (walked: ${visited.mkString(" -> ")} -> ${cur.get})")
        val m =
          try readManifest(s, root, cur.get)
          catch {
            case _: java.io.FileNotFoundException =>
              // a parent named by a child manifest but gone from disk:
              // retention swept it — name the break instead of leaking
              // a bare missing-file error
              throw new IllegalArgumentException(
                s"asOf='$asOf': parent chain from '$start' breaks at " +
                  s"'${cur.get}' (tag no longer exists — removed by retention?)")
          }
        if (tagLeq(m.tag, asOf)) return m
        cur = m.parent
      }
      throw new IllegalArgumentException(
        s"no snapshot at or before '$asOf' on the parent chain of '$start'")
    case None =>
      // maxOption under tagOrdering, not lastOption: listTags is
      // string-sorted, and mixed-precision ISO tags do not string-sort
      // by time (see tagLeq)
      listTags(s, root).filter(tagLeq(_, asOf)).maxOption(tagOrdering)
        .map(readManifest(s, root, _))
        .getOrElse(throw new IllegalArgumentException(
          s"no snapshot at or before '$asOf' under $root " +
            s"(tags: ${listTags(s, root).mkString(", ")})"))
  }

  /** Time-travel read: the `table` as it was at `asOf`, read as [[read]]
    * reads it from the manifest [[resolveAsOf]] resolves.
    */
  def readAsOf(s: SparkSession, root: String, asOf: String, table: String,
               from: Option[String] = None): DataFrame =
    readEntry(s, root, resolveAsOf(s, root, asOf, from), table)

  /** Batch-queryable face of a snapshot: one manifest read, then the
    * table's [[SnapshotTable]] scan, the same DSv2 scan the source and
    * the catalog read through. Building the DataFrame runs no Spark job;
    * the manifest's stats and partition values skip files, and the rest
    * are split and packed as Spark's file scans pack them.
    */
  def read(s: SparkSession, root: String, tag: String, table: String): DataFrame =
    readEntry(s, root, readManifest(s, root, tag), table)

  private def readEntry(s: SparkSession, root: String, m: Manifest, table: String): DataFrame = {
    val entry = m.tables.getOrElse(table,
      throw new IllegalArgumentException(s"table $table not in snapshot ${m.tag}"))
    GraftShim.ofRows(s, DataSourceV2Relation.create(
      SnapshotTable.of(root, m.tag, table, Some(entry), writable = false, s), None, None))
  }

  def listTags(s: SparkSession, root: String): Seq[String] = {
    val f = fs(s, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => f.exists(manifestPath(root, t))).toSeq.sorted
  }

  /** Vacuum: delete data files under `root` referenced by NO manifest —
    * the orphan-sweep companion to the DSv2 writer's truncate commit
    * (which swaps the manifest and leaves the previous generation's
    * files on disk) and to crashed writes (files landed, commit never
    * did). Walks every manifest first, so a file referenced by ANY tag
    * (including parents linked incrementally) survives.
    *
    * `graceMillis` closes the in-flight-writer race a quiesced-root
    * assumption leaves open: an export or DSv2 append lands its data
    * files BEFORE its manifest commit, so a concurrent vacuum sees
    * them as unreferenced and would sweep them — the writer then
    * commits a manifest pointing at deleted files (lost data, found
    * loudly only at read time). A file younger than the window is
    * never swept regardless of reference state — the same
    * modification-time discipline Delta's VACUUM retention and
    * Iceberg's remove_orphan_files `older_than` use. Default 0 keeps
    * the single-writer fixture behavior (sweep everything
    * unreferenced); a concurrent deployment passes a window
    * comfortably above its longest write+commit latency.
    *
    * Clock-skew honesty (r12 advice): file mtimes are stamped by the
    * STORAGE system, so comparing them against the vacuum driver's
    * own clock silently shrinks (or inverts) the grace window by the
    * skew between the two. When a grace window is in play, "now" is
    * therefore derived from the filesystem itself — the mtime of a
    * freshly-created probe file under `root` — so both sides of the
    * comparison come from the same clock and skew cancels. If the
    * probe cannot be created the driver clock is the fallback, and
    * graceMillis must then also cover worst-case skew.
    *
    * The sweep lists `root` with a fork-free recursive `listStatus`
    * walk ([[leafFiles]]): no `LocatedFileStatus` is built, so no
    * file's permission is loaded (on a local filesystem without native
    * Hadoop that load forks a shell command per file). The trade-off is
    * on object stores: S3A's recursive file iterator is one flat listing,
    * while the walk makes one LIST call per directory — O(tags × tables)
    * calls for this layout. A root that does not exist holds nothing to
    * sweep: the result is empty, as [[listTags]] and [[retain]] return.
    */
  def vacuum(s: SparkSession, root: String, graceMillis: Long = 0L): Seq[String] = {
    val f = fs(s, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return Seq.empty
    val referenced = listTags(s, root).flatMap { t =>
      readManifest(s, root, t).tables.values.flatMap(_.files)
        .map(fe => f.makeQualified(new Path(fe.path)).toString)
    }.toSet
    val now =
      if (graceMillis <= 0L) System.currentTimeMillis()
      else try {
        val probe = new Path(root, s".vacuum-probe-${java.util.UUID.randomUUID()}")
        f.create(probe, false).close()
        try f.getFileStatus(probe).getModificationTime
        finally f.delete(probe, false)
      } catch { case _: Exception => System.currentTimeMillis() }
    val cutoff = now - graceMillis
    val doomed = leafFiles(f, rootPath).filter(st =>
        st.getPath.getName.endsWith(".parquet") && st.getModificationTime <= cutoff)
      .map(st => f.makeQualified(st.getPath).toString).filterNot(referenced)
    doomed.foreach(p => f.delete(new Path(p), false))
    doomed.sorted
  }

  /** Owner tag of a data path = first path segment under root.
    * Counting parent hops instead would mis-resolve legacy hive-partitioned
    * entries' files (root/<tag>/<table>/<col>=<val>/<file> → "<table>"), so a
    * kept child's inherited files would fail to protect their parent
    * tag and retention could delete still-referenced data.
    */
  private def ownerTagOf(f: FileSystem, rootQ: Path)(p: Path): Option[String] = {
    var cur = f.makeQualified(p)
    while (cur.getParent != null && cur.getParent != rootQ) cur = cur.getParent
    if (cur.getParent == rootQ) Some(cur.getName) else None
  }

  /** Retention: keep the `n` newest tags — newest under
    * [[tagOrdering]], the SAME notion resolveAsOf uses (instant order
    * for ISO tags, raw-string order otherwise; advice r17). Raw
    * lexicographic takeRight here was a data-loss bug under the
    * mixed-precision tag renderings asOf supports: `'.' < 'Z'` makes
    * an instant-newest sub-second tag (`…00.500000Z`) string-sort
    * BEFORE an instant-older whole-second one (`…00Z`), so retention
    * would delete the newest snapshot and keep older ones. Also keeps every
    * snapshot TRANSITIVELY referenced by a surviving manifest's file
    * links. The closure matters: a tag kept only because a kept
    * manifest links into it can itself link into an older tag (chain
    * g→p→k where p inherited table B from g and k inherited table A
    * from p) — single-level protection would delete g and leave p, a
    * live listed snapshot, with dangling file references. Iterate to
    * fixpoint over the manifests of every protected tag. Retention is
    * tag-granular: since [[export]] links unchanged partitions file by
    * file, a kept tag keeps EVERY ancestor that owns one of its files —
    * a table that only grows keeps its whole chain of tags, each holding
    * just the files it added.
    *
    * LOCK-HOLD TRADE (advice r19): the whole run — listTags, one
    * readManifest per protected tag in the closure, and the recursive
    * tag-dir deletes — executes under SnapshotBatchWrite.commitLock,
    * so on a slow object store every in-process DSv2 commit and
    * export STALLS behind retention's remote deletions (potentially
    * seconds-to-minutes for large doomed tags). This is deliberate:
    * retention is a rare, operator-driven maintenance action, and the
    * alternative (compute the keep-set outside the lock, re-check
    * inside) would have to re-run the manifest-closure fixpoint
    * anyway to be sound — an export committed between the two passes
    * can add inherited references to ANY tag, so nothing computed
    * outside the lock survives validation. Correctness first; run
    * retention in maintenance windows, not alongside latency-critical
    * commits. (The scaladoc's cross-JVM caveat is separate and
    * unchanged: a second JVM's exporter is protected by its own
    * commit-time owner-tag check, not by this lock.)
    */
  def retain(s: SparkSession, root: String, n: Int): Seq[String] =
   SnapshotBatchWrite.commitLock.synchronized {
    // Under the commit lock (r18): retention deletes whole TAG dirs, so
    // an in-process export inheriting a parent's files mid-flight is the
    // same hazard class as vacuum's grace=0 race — but age-based grace
    // CANNOT close it (inherited files are legitimately old). The lock +
    // export's commit-time owner-tag check make the in-process
    // interleavings safe in both orders; a second JVM's exporter is
    // caught by ITS owner-tag check unless retention lands in the
    // check-to-swap window (same cross-JVM caveat the OCC docs carry).
    val tags = listTags(s, root)
    val f = fs(s, root)
    val rootQ = f.makeQualified(new Path(root))
    def ownerTag(p: Path): Option[String] = ownerTagOf(f, rootQ)(p)
    val keep = scala.collection.mutable.Set.empty[String]
    var frontier: Seq[String] = tags.sorted(tagOrdering).takeRight(n)
    frontier.foreach(keep += _)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap { t =>
        // an owner tag derived from a file path may have no manifest
        // (a root damaged before this fix, or a crashed legacy swap):
        // it is not in listTags, hence never a deletion candidate —
        // skip it rather than wedging retention forever. Its own
        // onward references are unknowable without the manifest; that
        // degradation matches the pre-fix behavior and is logged by
        // the thrown-away read, not silently ignored.
        try readManifest(s, root, t).tables.values.flatMap(_.files)
          .flatMap(fe => ownerTag(new Path(fe.path)))
        catch { case _: java.io.FileNotFoundException => Nil }
      }.distinct.filterNot(keep)
      frontier.foreach(keep += _)
    }
    val doomed = tags.filterNot(keep)
    doomed.foreach(t => f.delete(new Path(s"$root/$t"), true))
    doomed
  }

  /** Maintenance: drop txns-ledger entries for DECOMMISSIONED writers
    * (see TableEntry's RETENTION note — the ledger otherwise grows one
    * entry per appId forever). Explicit and operator-driven; the
    * hazard is real: dropping a LIVE writer's entry re-admits its
    * replays (its next re-delivered micro-batch double-commits). Only
    * the named appIds are removed (stamps too); returns the entries
    * actually dropped. OCC-committed like every manifest mutation.
    * For AGE-based expiry see [[expireTxns]].
    */
  def dropTxns(s: SparkSession, root: String, tag: String, table: String,
               appIds: Set[String]): Map[String, Long] =
    SnapshotBatchWrite.commitLock.synchronized {
      val m = readManifest(s, root, tag)
      val entry = m.tables.getOrElse(table, throw new IllegalArgumentException(
        s"snapshot tag '$tag' has no table '$table' (tables: ${m.tables.keys.toSeq.sorted.mkString(", ")})"))
      val (dropped, kept) = entry.txns.partition { case (app, _) => appIds(app) }
      if (dropped.nonEmpty)
        writeManifest(s, root,
          m.copy(tables = m.tables + (table ->
                   entry.copy(txns = kept, txnStamps = entry.txnStamps -- dropped.keys)),
                 generation = m.generation + 1),
          expectedGeneration = Some(m.generation))
      dropped
    }

  /** Which ledger entries an age-based sweep drops: stamped entries
    * whose last commit is older than the retention window. Entries
    * WITHOUT a stamp (recorded by a pre-stamp build) have unknown age
    * and are always kept — expiring them on no evidence would be the
    * double-commit hazard with extra steps; decommission those via
    * [[dropTxns]]. Pure and shared by [[expireTxns]] and the
    * `txnRetentionMs` write-option sweep so both paths expire
    * identically (spec'd).
    */
  private[graft] def expiredTxnApps(entry: TableEntry, retentionMs: Long,
                                    nowMs: Long): Set[String] =
    entry.txns.keySet.filter { app =>
      entry.txnStamps.get(app).exists(_ < nowMs - retentionMs)
    }

  /** Maintenance: age-based txns-ledger expiry (Delta's
    * setTransactionRetentionDuration analogue). Drops entries whose
    * stamp is older than `retentionMs`; returns what was dropped.
    * THE RETENTION WINDOW IS A CORRECTNESS PARAMETER: it must exceed
    * the longest possible gap between a writer's crash and its replay
    * (checkpoint recovery, backfill restart) — an expired live writer's
    * replay double-commits (hazard pinned in
    * SnapshotStreamRecoverySpec). Days, not minutes.
    */
  def expireTxns(s: SparkSession, root: String, tag: String, table: String,
                 retentionMs: Long,
                 nowMs: Long = System.currentTimeMillis()): Map[String, Long] =
    SnapshotBatchWrite.commitLock.synchronized {
      val m = readManifest(s, root, tag)
      val entry = m.tables.getOrElse(table, throw new IllegalArgumentException(
        s"snapshot tag '$tag' has no table '$table' (tables: ${m.tables.keys.toSeq.sorted.mkString(", ")})"))
      val doomed = expiredTxnApps(entry, retentionMs, nowMs)
      val dropped = entry.txns.filter { case (app, _) => doomed(app) }
      if (dropped.nonEmpty)
        writeManifest(s, root,
          m.copy(tables = m.tables + (table ->
                   entry.copy(txns = entry.txns -- doomed,
                              txnStamps = entry.txnStamps -- doomed)),
                 generation = m.generation + 1),
          expectedGeneration = Some(m.generation))
      dropped
    }
}
