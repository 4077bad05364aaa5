package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.{Snapshot, Tables}

/** Snapshot pipeline behavior (SURVEY §7.2 M3): export, manifest,
  * incremental link, read-back equality, retention with ancestor
  * protection.
  */
class SnapshotSpec extends SparkSpec {

  test("export + read round-trips table content exactly") {
    val root = Files.createTempDirectory("snap_rt").toString
    Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), root, "t1")
    val back = Snapshot.read(spark, root, "t1", "nation")
    val orig = Tables.nation(spark, sf)
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("incremental export links unchanged tables to parent files (no rewrite)") {
    val root = Files.createTempDirectory("snap_inc").toString
    val m1 = Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), root, "tag_a")
    val m2 = Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), root, "tag_b", Some("tag_a"))
    assert(m2.tables("nation").files == m1.tables("nation").files,
      "unchanged table must reference parent's files")
    assert(m2.tables("nation").files.forall(_.path.contains("tag_a")))
    // changed content → rewritten under the new tag
    val changed = Tables.nation(spark, sf).where(col("n_nationkey") < 10)
    val m3 = Snapshot.export(spark, Map("nation" -> changed), root, "tag_c", Some("tag_b"))
    assert(m3.tables("nation").files.forall(_.path.contains("tag_c")))
    assert(Snapshot.read(spark, root, "tag_c", "nation").count() == 10)
  }

  test("retention keeps newest n tags plus linked ancestors") {
    val root = Files.createTempDirectory("snap_ret").toString
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("nation" -> nation), root, "tag_1")
    Snapshot.export(spark, Map("nation" -> nation), root, "tag_2", Some("tag_1")) // links into tag_1
    Snapshot.export(spark, Map("nation" -> nation.limit(5)), root, "tag_3", Some("tag_2"))
    val deleted = Snapshot.retain(spark, root, 2)
    // tag_1 is an ancestor still referenced by tag_2's links → protected
    assert(deleted.isEmpty)
    assert(Snapshot.listTags(spark, root).toSet == Set("tag_1", "tag_2", "tag_3"))
    // tag_3 has its own files; keeping only it frees tag_1/tag_2
    val deleted2 = Snapshot.retain(spark, root, 1)
    assert(deleted2.toSet == Set("tag_1", "tag_2"))
    assert(Snapshot.read(spark, root, "tag_3", "nation").count() == 5)
  }

  test("retention ranks newest by INSTANT, not string order (mixed-precision tags)") {
    // Advice r17 (medium): '.' < 'Z' makes the instant-NEWEST sub-second
    // tag string-sort BEFORE an instant-older whole-second one, so a raw
    // lexicographic takeRight(n) deletes the newest snapshot and keeps
    // older ones — data loss under exactly the tag mix asOf supports.
    // retain must share resolveAsOf's tagOrdering notion of newest.
    val root = Files.createTempDirectory("snap_ret_mixed").toString
    val nation = Tables.nation(spark, sf)
    val oldTag = "2026-01-01T10:00:00Z"         // instant 10:00:00.0 — older
    val newTag = "2026-01-01T10:00:00.500000Z"  // instant 10:00:00.5 — NEWEST
    assert(newTag < oldTag, "precondition: the newest tag string-sorts first")
    Snapshot.export(spark, Map("nation" -> nation), root, oldTag)
    Snapshot.export(spark, Map("nation" -> nation.limit(5)), root, newTag)
    assert(Snapshot.resolveAsOf(spark, root, "2026-01-01T11:00:00Z").tag == newTag,
      "precondition: asOf already resolves the sub-second tag as newest")
    val deleted = Snapshot.retain(spark, root, 1)
    assert(deleted == Seq(oldTag),
      s"retention must delete the instant-OLDER whole-second tag, got: $deleted")
    assert(Snapshot.listTags(spark, root) == Seq(newTag))
    assert(Snapshot.read(spark, root, newTag, "nation").count() == 5)
  }

  test("retention protects hive-partitioned ancestors referenced by a kept child") {
    val root = Files.createTempDirectory("snap_ret_part").toString
    val orders = Tables.orders(spark, sf)
    // tag_1 is hive-partitioned: files live at root/tag_1/orders/<col>=<val>/...
    val m1 = legacyPartitioned(root, "tag_1", "orders", orders, Seq("o_orderpriority"))
    // tag_2 links tag_1's files (an unchanged table inherits its entry), tag_3 rewrites
    Snapshot.writeManifest(spark, root, m1.copy(tag = "tag_2", parent = Some("tag_1")))
    Snapshot.export(spark, Map("orders" -> orders.limit(7)), root, "tag_3", Some("tag_2"))
    // keeping tag_2+tag_3 must protect tag_1 even though its files sit one
    // directory deeper than the flat layout (owner = first segment under root)
    val deleted = Snapshot.retain(spark, root, 2)
    assert(deleted.isEmpty, s"retention deleted a referenced ancestor: $deleted")
    assert(Snapshot.read(spark, root, "tag_2", "orders").count() == orders.count())
  }

  test("partitioned export prunes partitions on read (the 100 TB DPP path)") {
    val root = Files.createTempDirectory("snap_part").toString
    legacyPartitioned(root, "p1", "orders", Tables.orders(spark, sf), Seq("o_orderpriority"))
    val back = Snapshot.read(spark, root, "p1", "orders")
    assert(back.count() == Tables.orders(spark, sf).count())
    val filtered = back.where(col("o_orderpriority") === "1-URGENT")
    val expected = Tables.orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT").count()
    assert(filtered.count() == expected)
    // the scan plans only the matching partition's files
    val scanned = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(filtered.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => plannedFiles(b.batch)
      }.flatten
    val urgent = Snapshot.readManifest(spark, root, "p1").tables("orders").files.map(_.path)
      .filter(_.contains("/o_orderpriority=1-URGENT/"))
    assert(urgent.nonEmpty && scanned.sorted == urgent.sorted, scanned)
  }

  test("crashed export leaves no readable snapshot (manifest written last)") {
    val root = Files.createTempDirectory("snap_crash").toString
    // simulate: data dir exists but no manifest
    Tables.region(spark, sf).write.parquet(s"$root/half_done/region")
    assert(!Snapshot.listTags(spark, root).contains("half_done"))
    intercept[Exception](Snapshot.readManifest(spark, root, "half_done"))
  }

  test("re-exporting a tag never deletes the superseded generation before the swap") {
    // write-new/swap/sweep: the first generation's files must survive a
    // re-export (a crash or concurrent reader between a delete and the
    // manifest swap would otherwise lose committed data) and be swept
    // only by vacuum once unreferenced.
    val root = Files.createTempDirectory("snap_regen").toString
    val f = new java.io.File(_: String)
    val m1 = Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), root, "live")
    val gen1 = m1.tables("nation").files.map(_.path.stripPrefix("file:"))
    assert(gen1.nonEmpty && gen1.forall(p => f(p).exists))
    val m2 = Snapshot.export(spark,
      Map("nation" -> Tables.nation(spark, sf).where(col("n_nationkey") < 5)), root, "live")
    assert(Snapshot.read(spark, root, "live", "nation").count() == 5)
    assert(gen1.forall(p => f(p).exists),
      "superseded generation must stay on disk until vacuum")
    assert(m2.tables("nation").files.map(_.path).intersect(m1.tables("nation").files.map(_.path)).isEmpty)
    val swept = Snapshot.vacuum(spark, root)
    assert(gen1.forall(p => !f(p).exists), s"vacuum must sweep the old generation: $swept")
    assert(Snapshot.read(spark, root, "live", "nation").count() == 5)
  }

  test("vacuum grace window protects in-flight writes; aged orphans still sweep") {
    // the in-flight-writer race: data files land BEFORE the manifest
    // commit, so a concurrent vacuum sees them as unreferenced; with a
    // grace window a YOUNG orphan (in-flight write) survives, an AGED
    // one (genuinely abandoned) sweeps, and referenced files survive
    // at any age
    val root = Files.createTempDirectory("snap_grace").toString
    Snapshot.export(spark, Map("nation" -> Tables.nation(spark, sf)), root, "live")
    val inflight = s"$root/live/nation_new/g-pending"
    Tables.region(spark, sf).write.parquet(inflight)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def orphans() = {
      val it = f.listFiles(new org.apache.hadoop.fs.Path(inflight), true)
      val b = Seq.newBuilder[org.apache.hadoop.fs.Path]
      while (it.hasNext) { val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st.getPath }
      b.result()
    }
    val pending = orphans()
    assert(pending.nonEmpty)
    // young orphan + 1h grace → survives (the in-flight write)
    assert(Snapshot.vacuum(spark, root, graceMillis = 3600L * 1000).isEmpty)
    assert(pending.forall(f.exists), "in-flight files swept inside the grace window")
    // age the orphan past the window → swept; the committed export survives
    pending.foreach(p => f.setTimes(p, System.currentTimeMillis() - 7200L * 1000, -1))
    val swept = Snapshot.vacuum(spark, root, graceMillis = 3600L * 1000)
    assert(swept.nonEmpty && pending.forall(p => !f.exists(p)),
      s"aged orphans must sweep: $swept")
    assert(Snapshot.read(spark, root, "live", "nation").count() ==
      Tables.nation(spark, sf).count(),
      "referenced files must survive vacuum at any age")
  }

  test("retention protection is TRANSITIVE across inheritance chains") {
    // g -> p -> k where p inherited B from g and k inherited A from p:
    // keeping only k must also keep p (A's owner) AND g (B's owner,
    // reachable only through p's manifest) — single-level protection
    // would delete g and leave p with dangling references.
    val root = Files.createTempDirectory("snap_chain").toString
    val a1 = Tables.nation(spark, sf)
    val b1 = Tables.region(spark, sf)
    Snapshot.export(spark, Map("A" -> a1, "B" -> b1), root, "tag_g")
    // p: rewrite A (content change), inherit B
    Snapshot.export(spark, Map("A" -> a1.where(col("n_nationkey") < 20), "B" -> b1),
      root, "tag_p", Some("tag_g"))
    // k: inherit A (same content as p's), rewrite B
    Snapshot.export(spark, Map("A" -> a1.where(col("n_nationkey") < 20),
      "B" -> b1.where(col("r_regionkey") < 3)), root, "tag_q", Some("tag_p"))
    val doomed = Snapshot.retain(spark, root, 1)
    assert(doomed.isEmpty, s"all three tags are transitively referenced, deleted: $doomed")
    assert(Snapshot.read(spark, root, "tag_p", "B").count() == b1.count(),
      "p's inherited table must still resolve through g's surviving files")
  }

  test("retention survives a dangling owner tag (manifest gone, files still referenced)") {
    // A kept manifest links files under a tag whose manifest.json is
    // missing (damaged root). The fixpoint walk must skip it — not
    // throw and wedge GC forever — and must not delete its directory
    // (it is not a listTags candidate), so the kept tag stays readable.
    val root = Files.createTempDirectory("snap_dangle").toString
    val nation = Tables.nation(spark, sf)
    Snapshot.export(spark, Map("A" -> nation), root, "tag_p")
    Snapshot.export(spark, Map("A" -> nation), root, "tag_q", Some("tag_p")) // inherits A
    assert(new java.io.File(s"$root/tag_p/manifest.json").delete())
    val doomed = Snapshot.retain(spark, root, 1)
    assert(doomed.isEmpty, s"nothing eligible should be deleted: $doomed")
    assert(Snapshot.read(spark, root, "tag_q", "A").count() == nation.count(),
      "kept tag must stay readable through the dangling owner's surviving files")
  }

  test("an UPDATE preserving row count and schema is NOT inherited (content signature)") {
    val root = Files.createTempDirectory("snap_sig").toString
    val v1 = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    Snapshot.export(spark, Map("n" -> v1), root, "s1")
    // same rows, same schema, one value changed
    val v2 = v1.withColumn("n_name",
      when(col("n_nationkey") === 0, lit("MUTATED")).otherwise(col("n_name")))
    val m2 = Snapshot.export(spark, Map("n" -> v2), root, "s2", Some("s1"))
    assert(m2.tables("n").files.forall(_.path.contains("/s2/")),
      "content change with identical rowcount+schema must be rewritten, not inherited")
    val back = Snapshot.read(spark, root, "s2", "n")
    assert(back.where(col("n_name") === "MUTATED").count() == 1)
    // and the unchanged case still skips (links parent files)
    val m3 = Snapshot.export(spark, Map("n" -> v2), root, "s3", Some("s2"))
    assert(m3.tables("n").files == m2.tables("n").files)
    // the content fingerprint is an order-independent SUM of row hashes:
    // the same rows under a different partitioning / row order must
    // still skip — otherwise every repartitioned nightly re-export
    // rewrites an unchanged table (the claim in signatureAndRows' doc,
    // pinned here)
    val m4 = Snapshot.export(spark,
      Map("n" -> v2.repartition(7, col("n_name")).sortWithinPartitions(col("n_name"))),
      root, "s4", Some("s3"))
    assert(m4.tables("n").files == m2.tables("n").files,
      "repartitioned identical content must inherit the parent's files")
  }

  test("partitioned snapshot reads are pinned to the manifest, not directory contents") {
    val root = Files.createTempDirectory("snap_pin").toString
    val nation = Tables.nation(spark, sf)
    val m = legacyPartitioned(root, "pt", "nation", nation, Seq("n_regionkey"))
    val before = Snapshot.read(spark, root, "pt", "nation").count()
    assert(before == nation.count())
    // an orphan parquet file lands inside the generation dir (crashed
    // later write, foreign writer) — committed snapshot must not see it
    val dir = m.tables("nation").dir.get
    nation.limit(7).drop("n_regionkey").write.mode("append").parquet(s"$dir/n_regionkey=0")
    assert(Snapshot.read(spark, root, "pt", "nation").count() == before,
      "orphan files in the generation dir must not leak into a committed snapshot")
  }

  // A NULL that moves changes the rows, so it must change the content
  // signature: each pair below holds different rows under one schema,
  // and the child must be rewritten, never inherit the parent's files.
  private val movedNulls: Seq[(String, String, org.apache.spark.sql.Row, org.apache.spark.sql.Row)] = {
    import org.apache.spark.sql.Row
    Seq(
      ("between two columns of the same type", "id BIGINT, a BIGINT, b BIGINT",
        Row(1L, null, 5L), Row(1L, 5L, null)),
      ("off the end of an array", "id BIGINT, xs ARRAY<BIGINT>",
        Row(1L, Seq(5L, null)), Row(1L, Seq(5L))),
      ("in place of an empty array", "id BIGINT, xs ARRAY<BIGINT>",
        Row(1L, Seq.empty[Long]), Row(1L, null)),
      ("inside a struct", "id BIGINT, s STRUCT<a: BIGINT, b: BIGINT>",
        Row(1L, Row(null, 5L)), Row(1L, Row(5L, null))))
  }

  movedNulls.foreach { case (where, ddl, before, after) =>
    test(s"a NULL that moves $where is not inherited") {
      val root = Files.createTempDirectory("snap_null").toString
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      def frame(r: org.apache.spark.sql.Row) =
        spark.createDataFrame(spark.sparkContext.parallelize(Seq(r), 1), schema)
      val m1 = Snapshot.export(spark, Map("t" -> frame(before)), root, "p")
      val m2 = Snapshot.export(spark, Map("t" -> frame(after)), root, "c", Some("p"))
      assert(m2.tables("t").signature != m1.tables("t").signature)
      assert(m2.tables("t").files.forall(_.path.contains("/c/")), m2.tables("t").files)
      assert(Snapshot.read(spark, root, "c", "t").collect().toSeq == Seq(after))
    }
  }
}
