package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.dec

/** Scale rehearsal (SURVEY §7.5): synthetically inflate lineitem ×K
  * via explode(sequence) — unique keys preserved by re-keying — and
  * run the heavy relational shapes, verifying wall-time scales
  * ~linearly and plans keep partial aggregation / broadcast shapes.
  * Prints one JSON line per step.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = args.headOption.map(_.toInt).getOrElse(10)
    // SPARK_GRAFT_SHUFFLE: shuffle-partition override for attribution
    // experiments — at ×K inflation a fixed partition count eventually
    // spills (partition bytes grow ×K), and re-sizing partitions to the
    // data is exactly the lever a real cluster uses; this knob proves
    // whether a superlinear leg is spill (ratio drops when re-sized) or
    // plan pathology (ratio doesn't)
    val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus0]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus0))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup (incl. the noop write path) so the first leg prices its
    // own work, not JVM/codegen/write-exec first-use costs — the ×1
    // and ×K runs then compare like for like on every leg
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(1000L).write.mode("overwrite").format("noop").save()

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("l_orderkey", col("l_orderkey") * k + col("rep"))
      .drop("rep")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    // optional second arg: comma-separated leg names — run only those
    // (the ×100 rehearsal runs the cheap linear shapes alone; the
    // density-pathological legs (grid2d ×K², triangles) are documented
    // superlinear BY CONSTRUCTION and would dominate a full ×100 run)
    val only: Option[Set[String]] = args.drop(1).headOption.map(_.split(",").toSet)
    // every leg name that actually ran — a TYPO'D filter name would
    // otherwise run NOTHING and the rehearsal would look "complete"
    // with zero measured legs (the silent-miss class; checked at exit)
    val ran = scala.collection.mutable.Set.empty[String]

    def time(name: String)(df: => DataFrame): Unit = if (only.forall(_.contains(name))) {
      ran += name
      // Noop-force like Bench: count-forcing lets the optimizer drop
      // agg-final queries' aggregate expressions (and their column
      // reads), so a count-timed leg under-prices the work being
      // rehearsed. The ×K row-growth sanity check runs OUTSIDE the
      // timed region — it re-evaluates the frame, which costs wall
      // time but keeps the inflation evidence (clone content equality
      // itself is pinned by the spec-side ×K equalities).
      val t0 = System.nanoTime()
      val frame = df // evaluated INSIDE timing: some legs side-effect (the sink leg writes)
      frame.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = frame.count()
      println(f"""{"step":"$name","rows":$n,"sec":$sec%.2f,"inflation":$k}""")
    }

    time("inflated_scan")(li.select(col("l_orderkey")))
    time("q1_inflated")(
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec("l_quantity")).as("sum_qty"), count(lit(1)).as("n")))
    time("join_broadcast_inflated")(
      li.join(broadcast(spark.read.parquet(s"$sfDir/part.parquet")),
        col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1))))
    time("topk_inflated")(
      li.orderBy(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber")).limit(20))

    // Multi-distinct at ×K: the Expand-plan family's own leg — three
    // countDistinct + count(*) over one groupBy plans an Expand that
    // replicates every input row once per distinct family (×4) before
    // the two-level partial/final agg. At ×K the Expand input grows
    // exactly ×4K, and the distinct state splits into the two regimes
    // that matter at 100 TB: l_orderkey re-keying grows the orderkey
    // distinct set ×K (distinct state that grows with the data — the
    // worst case), while l_partkey/l_suppkey clones collapse in the
    // partial aggregate (their distinct sets stay ×1). Linear wall
    // growth certifies the Expand shape needs no manual two-level-agg
    // rewrite (the alternative the Composite.aggMultiDistinct scaladoc
    // weighs) as volume grows.
    time("multi_distinct_inflated")(
      li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("d_parts"),
          countDistinct(col("l_suppkey")).as("d_supps"),
          countDistinct(col("l_orderkey")).as("d_orders"),
          count(lit(1)).as("n_rows")))

    // n-gram dedup stress: ×K cloned corpus (re-keyed doc_id) means each
    // doc gains K−1 exact near-dups — the candidate-pair set grows ~K²/2
    // per doc while the index build grows ×K; proves the banded dataflow
    // (hash index + size filter + single reused exchange) survives a
    // corpus where near-dup density is pathological, not sparse.
    val docsK = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("doc_id", col("doc_id") * k + col("rep"))
      .drop("rep")
    val sigUdf = udf((text: String) => graft.operators.NearDup.shingleHashes(text))
    time("ngram_index_inflated")(
      docsK.withColumn("arr", sigUdf(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("arr")).cast("long").as("sz"), explode(col("arr")).as("shingle")))

    // round-4 shapes. Orders re-keyed with the SAME formula as lineitem
    // so fact-fact join keys still align at ×K.
    def inflate(o: DataFrame) = o
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("o_orderkey", col("o_orderkey") * k + col("rep"))
      .drop("rep")
    val ordersK = inflate(orders)

    // TPC-H Q5 shape at ×K: the full fact chain (lineitem⋈orders⋈
    // customer⋈supplier) with broadcast nation/region — proves the
    // multiway star keeps one shuffle per fact join as volume grows.
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
    val reg = spark.read.parquet(s"$sfDir/region.parquet").where(col("r_name") === "ASIA")
    val supN = spark.read.parquet(s"$sfDir/supplier.parquet")
      .join(broadcast(nat.join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    time("q5_inflated")(
      li.select(col("l_orderkey"), col("l_suppkey"),
          (dec("l_extendedprice") * (lit(1).cast("decimal(18,2)") - dec("l_discount"))).as("rev"))
        .join(ordersK.select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(spark.read.parquet(s"$sfDir/customer.parquet")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(supN, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name")).agg(sum(col("rev")).as("revenue")))

    // snapshot diff at ×K: co-partitioned full outer join on the key —
    // the CDC classification pass over two inflated generations.
    val baseK = ordersK.select(col("o_orderkey"), dec("o_totalprice").as("p"))
    time("diff_inflated")(
      baseK.where(pmod(col("o_orderkey"), lit(11)) =!= 0)
        .select(col("o_orderkey").as("k1"), col("p").as("p1"))
        .join(baseK.where(pmod(col("o_orderkey"), lit(13)) =!= 0)
          .select(col("o_orderkey").as("k2"), col("p").as("p2")),
          col("k1") === col("k2"), "full_outer")
        .where(col("k1").isNull || col("k2").isNull))

    // sequence packing at ×K: the running-sum window stays bounded by
    // the (lang) shard — per-partition state does not grow with ×K
    // beyond the shard's own row count.
    time("pack_inflated")(
      docsK.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .withColumn("cum", sum(col("tok")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("doc_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .withColumn("chunk_id", floor((col("cum") - col("tok")) / lit(512)))
        .groupBy(col("lang"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs")))
    // PageRank at ×K: the cloned corpus multiplies every (lang, source)
    // bucket ×K, so each iteration's join + exchange carries ×K rows —
    // proves the joins-as-pregel loop scales linearly per iteration.
    time("pagerank_inflated")(
      graft.operators.Graph.pageRankImpl(
        docsK.select(col("doc_id"), col("lang"), col("source"))))

    // Triangle counting at ×K: cloned orders repeat the same part
    // pairs, so the DISTINCT edge set is unchanged while the pair
    // generation + dedup input grows ×K — which is exactly the
    // at-scale cost center (edge extraction from a fact table dwarfs
    // the wedge join once edges are deduped). Proves that phase
    // scales linearly.
    time("triangles_inflated")(
      graft.operators.Graph.trianglesImpl(
        li.where(pmod(col("l_orderkey"), lit(5)) === 0)
          .select(col("l_orderkey"), col("l_partkey"))))

    // Label propagation at ×K: re-keying BOTH sides of the co-purchase
    // row with the same clone index stamps out K structurally identical
    // but DISJOINT graph copies (clone r's parts only co-occur in clone
    // r's orders) — unlike triangles_inflated, the distinct edge set,
    // node set, and per-round message volume all grow ×K, so this
    // proves the pregel-as-joins rounds themselves (edge join + min
    // agg + label join) are linear, not just the edge extraction.
    // The pmod subsample runs on ORIGINAL keys, before re-keying
    // perturbs residues.
    val liLP = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(pmod(col("l_orderkey"), lit(5)) === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .select((col("l_orderkey") * k + col("rep")).as("l_orderkey"),
        (col("l_partkey") * k + col("rep")).as("l_partkey"))
    time("label_prop_inflated")(
      graft.operators.Graph.labelPropImpl(liLP))

    // Interval-overlap join at ×K on ONE side: each Brand#1 clone keeps
    // its interval, so it meets exactly the same Brand#2 partners — the
    // bin-explode input and the matched-pair output both grow ×K,
    // linearly. (Both-sides inflation would be the ×K² pathological-
    // density regime grid2d_inflated already rehearses; one-sided
    // isolates the candidate-generation and count-agg linearity the
    // banded construction promises: ≤2 bins per interval, two equi
    // joins, map-side-combinable count.)
    val partOrig = spark.read.parquet(s"$sfDir/part.parquet")
    val partA = partOrig
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("p_partkey", col("p_partkey") * k + col("rep"))
      .drop("rep")
    time("interval_overlap_inflated")(
      graft.operators.Frontier.intervalOverlapImpl(partA, partOrig))

    // MinHash+LSH dedup at ×K: clone-salted band buckets stamp out K
    // structurally identical but DISJOINT LSH corpora (clone r's docs
    // only ever bucket with clone r's docs — the label_prop trick) —
    // so signature computation, band explode, bucket equi-join and the
    // exact-Jaccard confirm all grow exactly ×K while per-bucket sizes
    // (the quadratic knob) keep their ×1 distribution, and the matched
    // pair count is exactly ×K (printed rows ARE the inflation proof).
    // This measures the real 100 TB dedup dataflow (NearDup.dedupMinhash,
    // the load-bearing banded claim at NearDup.scala:10-14) end to end;
    // UN-salted cloning would instead measure the pathological-density
    // regime (every clone cluster collides in every band → ×K²
    // candidates), which is the ngram index rehearsal's documented job.
    val docsMH = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("doc_id", col("doc_id") * k + col("rep"))
    val sigMH = udf((text: String) => graft.operators.NearDup.minhashSignature(text))
    val bandMH = udf((sig: Seq[Long], band: Int, rep: Int) =>
      graft.functions.Mix.mix64(
        graft.operators.NearDup.bandBucket(sig, band) ^ rep.toLong))
    time("dedup_minhash_inflated") {
      val sigs = docsMH.withColumn("sig", sigMH(col("text")))
      val buckets = sigs.select(col("doc_id"), col("sig"), col("rep"),
          explode(typedlit((0 until graft.operators.NearDup.Bands).toArray)).as("band"))
        .withColumn("bucket", bandMH(col("sig"), col("band"), col("rep")))
        .select(col("doc_id"), col("band"), col("bucket"))
      val cand = buckets.as("l").join(buckets.as("r"),
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
            && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2")).distinct()
      val shMH = udf((text: String) => graft.operators.NearDup.shingleHashes(text))
      val sets = docsMH.select(col("doc_id"), shMH(col("text")).as("sh"))
      val jacMH = udf((a: Seq[Long], b: Seq[Long]) =>
        graft.operators.NearDup.jaccard(a.toSet, b.toSet))
      cand.join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
        .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
        .withColumn("jac", jacMH(col("sh1"), col("sh2")))
        .where(col("jac") >= 0.8)
        .select(col("d1"), col("d2"))
    }

    // SimHash dedup at ×K: same disjoint-clone salting on the 16-bit
    // chunk key (re-mixed so clones land in unrelated buckets) — the
    // 4-chunk pigeonhole band family's candidate join and hamming
    // confirm grow exactly ×K.
    time("dedup_simhash_inflated") {
      val shSH = udf((text: String) => graft.operators.NearDup.simhash64(text))
      val saltSH = udf((ckey: Long, rep: Int) =>
        graft.functions.Mix.mix64(ckey ^ (rep.toLong << 17)))
      val docsSH = docsMH.select(col("doc_id"), col("rep"), shSH(col("text")).as("sh"))
      val chunks = docsSH.select(col("doc_id"), col("sh"), col("rep"),
          explode(typedlit((0 until 4).toArray)).as("chunk"))
        .withColumn("ckey", saltSH(
          expr("shiftright(sh, chunk * 16)").bitwiseAND(lit(0xffffL)), col("rep")))
        .select(col("doc_id"), col("sh"), col("chunk"), col("ckey"))
      chunks.as("l").join(chunks.as("r"),
          col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey")
            && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("d1"), col("l.sh").as("sh1"),
          col("r.doc_id").as("d2"), col("r.sh").as("sh2"))
        .distinct()
        .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("int"))
        .where(col("hamming") <= 3)
        .select(col("d1"), col("d2"))
    }

    // k-means at ×K: cloned embeddings (re-keyed vec_id) grow the
    // point set ×K while centroids stay k×dim — every iteration's
    // broadcast stays constant-size and the (vec, cid) partial agg
    // grows linearly. Proves the feature-parallel Lloyd dataflow has
    // no super-linear term.
    // re-key clones into ×K blocks (NOT interleaved): the k-means init
    // takes the lowest vec_ids, and interleaved re-keying would hand it
    // K clones of one vector (identical centroids → degenerate run).
    // The block stride comes from the data (max id + 1), so re-keying
    // is collision-free for ANY fixture id range, like the other
    // rehearsals' multiplicative schemes
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embStride = embBase.agg(max("vec_id")).head.getLong(0) + 1L
    val embK = embBase
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("vec_id", col("vec_id") + col("rep") * lit(embStride))
      .drop("rep")
    time("kmeans_inflated")(graft.operators.Clustering.kmeansImpl(embK))

    // Blocked self-join at ×K: the similarity family's own leg
    // (sim_pairs / knn_graph / dedup_embed all share the label-blocked
    // pair-generation shape; kmeans rehearses only the embeddings
    // scan + centroid agg). Labels are re-keyed per clone, so block
    // SIZES stay ×1 while block COUNT grows ×K — candidates and output
    // grow exactly ×K, never ×K². That is the 100 TB claim for this
    // family: scale arrives as more blocks (more labels / finer
    // buckets), not bigger ones — a workload whose individual blocks
    // grow needs a finer blocking key first, which is a data-model
    // decision, not an operator property. vec_ids re-keyed by the
    // data-derived stride (collision-free for any fixture id range);
    // label re-keying uses the same multiplicative scheme as asof's
    // user re-key. Runs the REAL knnGraphImpl dataflow (join → cosine
    // → per-src top-3 window → global order).
    val embG = embBase
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .select((col("vec_id") + col("rep") * lit(embStride)).as("vec_id"),
        (col("label") * k + col("rep")).as("label"), col("embedding"))
    time("knn_graph_inflated")(graft.operators.SimilarityOps.knnGraphImpl(embG))

    // Grid join at ×K: clones land on identical (size, price) points,
    // so every original pair multiplies ×K² and each clone cluster
    // adds K(K−1)/2 zero-distance pairs — near-dup density goes
    // pathological exactly like the ngram rehearsal. Proves the
    // 3×3-cell equi-join survives output blowup without the candidate
    // generation itself degrading (candidates stay one hash join).
    val partK = spark.read.parquet(s"$sfDir/part.parquet")
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("p_partkey", col("p_partkey") * k + col("rep"))
      .drop("rep")
    time("grid2d_inflated")(
      graft.operators.Frontier.gridImpl(
        partK.select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))))

    // As-of join at ×K through the NATIVE exec (AsOfJoinExec): events
    // grow ×K with re-keyed users (clones stay self-consistent, so
    // purchases keep finding their own clone's clicks). Proves the
    // co-partitioned merge scales linearly — per-partition state is ONE
    // running last-match row however long the per-user history gets.
    val evAsOf = graft.sources.Tables.events(spark, sfDir)
      .where(col("event_type").isin("click", "purchase"))
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .withColumn("user_id", col("user_id") * k + col("rep"))
      .drop("rep")
    time("asof_inflated") {
      val purchases = evAsOf.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = evAsOf.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "p_ts", "c_ts")
    }

    // Sessionize at ×K: the windows family's own leg (pack rehearses
    // only the running-sum shape). Re-keyed users make each clone's
    // event history self-consistent, so lag/session-break/running-sum
    // per user partition reproduce the ×1 sessions exactly and the
    // output rows are exactly ×K — per-partition window state stays
    // bounded by ONE user's history however large K grows.
    time("sessionize_inflated") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      graft.sources.Tables.events(spark, sfDir)
        .withColumn("rep", explode(expr(s"sequence(1, $k)")))
        .select((col("user_id") * k + col("rep")).as("user_id"),
          col("event_id"), col("ts"), unix_micros(col("ts")).as("us"))
        .withColumn("brk",
          when(col("us") - lag(col("us"), 1).over(w) <= 1800000000L, 0L).otherwise(1L))
        .withColumn("session_id", sum(col("brk")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("us")) - min(col("us"))).as("duration_us"))
    }

    // DSv2 snapshot sink at ×K: the inflated orders stream through the
    // full write path (partition writers → UUID part files → atomic
    // manifest swap) and read back through the DSv2 scan. Proves the
    // commit protocol is metadata-only (manifest size tracks file
    // count, not row count) while the data volume grows ×K. The read
    // leg aggregates o_totalprice: a bare count() would be answered by
    // the scan's CountStar footer-stats pushdown without reading one
    // data page, and because time() forces the frame via count(), an
    // UNREFERENCED sum would be pruned away too (count over an
    // aggregate drops unused aggregate expressions — verified: the
    // scan's ReadSchema collapses to struct<>). The isNotNull filter
    // references the sum, so the count must evaluate it and the scan
    // must read o_totalprice — a real row scan through the DSv2 reader.
    // The sink is fed one partition per core, so the leg times parallel
    // write tasks (the writer Snapshot.export uses too) and commits a
    // multi-file manifest; the single-file orders scan alone would hand
    // it one task writing one file. The ×1 orders are spread before the
    // inflation, so the shuffle moves 1/K of the rows the sink writes.
    val ordersSpread = inflate(orders.repartition(spark.sparkContext.defaultParallelism))
    val sinkRoot = java.nio.file.Files.createTempDirectory("rehearse_sink")
    try {
      time("snapshot_sink_inflated") {
        ordersSpread.write.format("graft.sources.SnapshotSource")
          .option("root", sinkRoot.toString).option("tag", "gK").option("table", "orders")
          .option("schema", ordersK.schema.json).mode("append").save()
        spark.read.format("graft.sources.SnapshotSource")
          .option("root", sinkRoot.toString).option("tag", "gK").option("table", "orders").load()
          .groupBy().agg(sum(col("o_totalprice")).as("read_back_sum"))
          .where(col("read_back_sum").isNotNull)
      }
    } finally {
      // leave no litter even when the timed leg throws
      SessionToken.deleteDir(sinkRoot.toString)
    }

    // Count-min at ×K: the event stream grows ×K, the sketch stays
    // 3×256 longs at every partial — the O(1)-state frequency pass.
    // Basket lift at ×K: re-keyed orders multiply the basket count ×K
    // (baskets stay bounded, so pair generation grows linearly, never
    // quadratically) while the part dimension is unchanged.
    time("basket_inflated")(
      graft.operators.Frontier.basketImpl(
        li.select(col("l_orderkey"), col("l_partkey")))
        .orderBy(desc("ab"), asc("pa"), asc("pb")).limit(20))

    // through the adaptive events seam (ts encoding varies by fixture
    // generation); only user_id survives pruning anyway
    val evK = graft.sources.Tables.events(spark, sfDir)
      .withColumn("rep", explode(expr(s"sequence(1, $k)")))
      .select(col("user_id"))
    time("countmin_inflated") {
      // keys must be <= CountMin.MaxKey (~1.32e14) or bucket() throws
      // per-row — pre-mod wider ids with pmod(col, lit(CountMin.P));
      // see the contract note at Frontier.aggCountmin
      val cms = org.apache.spark.sql.functions.udaf(new graft.functions.CountMin)
      evK.agg(cms(col("user_id")))
    }

    spark.stop()
    // fail LOUDLY on filter names that matched no leg: a misspelled
    // ×100 invocation must be a visible error, never a vacuous pass
    only.foreach { o =>
      val missed = o -- ran
      if (missed.nonEmpty) {
        System.err.println(
          s"[rehearsal] UNKNOWN leg name(s): ${missed.toSeq.sorted.mkString(", ")} — " +
            s"known legs that ran this invocation: ${ran.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
  }
}
