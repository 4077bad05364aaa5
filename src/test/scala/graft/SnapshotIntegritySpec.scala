package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** Manifest-vs-data divergence probes (round-18 roadmap candidate (b),
  * pulled forward): at 100 TB a manifest and its data files CAN
  * disagree — an external tamper, a partial restore, a retention bug
  * in a foreign tool. The contract pinned here:
  *
  *  - the manifest's `rows` statistic alone never answers a query: the
  *    CountStar pushdown answers from the manifest only when the files'
  *    signed row counts sum to it, so a tampered row count is refused
  *    and `count(*)` reads the data on either path;
  *  - a manifest referencing a data file that no longer exists fails
  *    LOUDLY naming the problem — never a silently smaller (or empty)
  *    result, which is data loss masquerading as a small table.
  */
class SnapshotIntegritySpec extends SparkSpec {

  private def nation = Tables.nation(spark, sf)
    .select(col("n_nationkey"), col("n_name"))

  private def readSnap(root: String) = spark.read
    .format("graft.sources.SnapshotSource")
    .option("root", root).option("tag", "v1").option("table", "nation").load()

  test("a tampered manifest row count cannot lie to count(*): footers answer") {
    val root = Files.createTempDirectory("snap_integrity_rows").toString
    try {
      val trueRows = nation.count()
      Snapshot.export(spark, Map("nation" -> nation), root, "v1")
      // tamper the manifest EXTERNALLY (the shape a foreign tool or a
      // partial restore produces — not something our own API can do)
      val mf = Paths.get(root, "v1", "manifest.json")
      val json = new String(Files.readAllBytes(mf), "UTF-8")
      assert(json.contains(s""""rows":$trueRows"""),
        s"manifest format drifted — retune this probe:\n${json.take(400)}")
      Files.write(mf, json.replace(s""""rows":$trueRows""", s""""rows":999999""")
        .getBytes("UTF-8"))
      // the tamper is visible in the advisory statistic...
      assert(Snapshot.readManifest(spark, root, "v1").tables("nation").rows == 999999L)
      // ...but no query answer comes from it: the no-filter count(*)
      // (the CountStar pushdown, refused because the files' signed
      // counts disagree) and the row-scan count (filter suppresses agg
      // pushdown) both report the DATA's truth
      val viaAggPushdown = readSnap(root).agg(count(lit(1)).as("n"))
      assert(!answeredFromManifest(viaAggPushdown),
        "a row count the signed file counts contradict must not be answered")
      assert(viaAggPushdown.head().getLong(0) == trueRows)
      assert(readSnap(root).where(col("n_nationkey") >= 0).count() == trueRows)
    } finally SessionToken.deleteDir(root)
  }

  test("a manifest referencing a MISSING data file fails loudly, never silently smaller") {
    val root = Files.createTempDirectory("snap_integrity_miss").toString
    try {
      Snapshot.export(spark, Map("nation" -> nation), root, "v1")
      val entry = Snapshot.readManifest(spark, root, "v1").tables("nation")
      assert(entry.files.nonEmpty)
      // delete one committed data file out from under the manifest
      val victim = entry.files.head.path
      assert(Files.deleteIfExists(Paths.get(
        victim.stripPrefix("file:").stripPrefix("//"))),
        s"victim file did not exist on disk: $victim")
      // row-scan path: the reader must throw (task failure naming the
      // missing file), not return the surviving subset
      val eScan = intercept[Throwable](readSnap(root)
        .where(col("n_nationkey") >= 0).count())
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain(eScan).exists(c =>
          c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).toLowerCase.contains("not exist") ||
          String.valueOf(c.getMessage).toLowerCase.contains("notfound")),
        s"row scan over a missing file must fail naming it: ${eScan.getMessage}")
      // no-filter count(*) path: same loud failure (the manifest answer
      // is refused for a missing file, so the row scan opens it), never
      // a partial count
      val eAgg = intercept[Throwable](readSnap(root).agg(count(lit(1))).head())
      assert(chain(eAgg).exists(c =>
          c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).toLowerCase.contains("not exist") ||
          String.valueOf(c.getMessage).toLowerCase.contains("notfound")),
        s"count over a missing file must fail naming it: ${eAgg.getMessage}")
    } finally SessionToken.deleteDir(root)
  }
}
