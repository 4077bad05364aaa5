package graft

import org.apache.spark.sql.functions._
import graft.operators.NearDup

/** Property tests for the no-oracle near-dup family (SURVEY §5.5):
  * planted near-duplicates must be found, disjoint docs must not be.
  */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  // 32 tokens so a single-token edit keeps 3-shingle Jaccard ≥ 0.8:
  // n=30 shingles, edit flips 3 → (n-3)/(n+3) = 27/33 ≈ 0.82
  private val base = "the quick engine scans a very large parquet table with vectorized reads " +
    "while the optimizer prunes columns and pushes predicates into row groups for every " +
    "partition of the distributed cluster today"
  // one-token edit of base → high Jaccard
  private val nearDup = base.replace("vectorized reads", "vectorized writes")
  private val disjoint = "completely different words about nothing shared whatsoever in any position here"

  private def planted = Seq(
    (1L, base), (2L, nearDup), (3L, disjoint),
    (4L, "join a filter window row scan hash batch"),
    (5L, base) // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash signature: identical docs → identical signatures, jaccard(a,a)=1") {
    val s1 = NearDup.minhashSignature(base)
    val s2 = NearDup.minhashSignature(base)
    assert(s1.toSeq == s2.toSeq)
    assert(NearDup.jaccard(NearDup.shingles(base).toSet, NearDup.shingles(base).toSet) == 1.0)
  }

  test("planted near-dup pair is found by the minhash+LSH dataflow; disjoint is not") {
    planted.createOrReplaceTempView("planted")
    // run the same dataflow on the planted frame via a temp swap of the source
    val sigUdf = udf((text: String) => NearDup.minhashSignature(text))
    val sigs = planted.withColumn("sig", sigUdf(col("text")))
    val jacUdf = udf((a: String, b: String) =>
      NearDup.jaccard(NearDup.shingles(a).toSet, NearDup.shingles(b).toSet))
    val pairs = sigs.as("l").join(sigs.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("jac", jacUdf(col("l.text"), col("r.text")))
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"), col("jac"))
      .where(col("jac") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs hamming 0; one-token edit small hamming; disjoint large") {
    val h1 = NearDup.simhash64(base)
    val h2 = NearDup.simhash64(nearDup)
    val h3 = NearDup.simhash64(disjoint)
    assert(java.lang.Long.bitCount(h1 ^ NearDup.simhash64(base)) == 0)
    assert(java.lang.Long.bitCount(h1 ^ h2) < java.lang.Long.bitCount(h1 ^ h3))
  }

  test("minhash+LSH DATAFLOW finds planted dups through the real banded buckets (non-vacuous)") {
    // Runs dedupMinhash itself — signature → 16-band bucket join →
    // exact-Jaccard confirm — against a planted parquet corpus, so a
    // broken band slice / bucket key / confirm threshold cannot pass
    // vacuously (the fixture-corpus test above accepts an empty
    // result; this one pins exact expected pairs). The exact duplicate
    // (1,5) collides in ALL 16 bands, so its presence is guaranteed by
    // construction, not probabilistically.
    val dir = java.nio.file.Files.createTempDirectory("minhash_flow").toString
    try {
      Seq(
        (1L, base, "en", "t", base.length.toLong),
        (2L, nearDup, "en", "t", nearDup.length.toLong),
        (3L, disjoint, "en", "t", disjoint.length.toLong),
        (4L, "join a filter window row scan hash batch", "en", "t", 41L),
        (5L, base, "en", "t", base.length.toLong)
      ).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val pairs = NearDup.dedupMinhash(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDecimal(2).doubleValue).toMap
      assert(pairs.contains((1L, 5L)) && pairs((1L, 5L)) == 1.0,
        s"exact dup must be found with jaccard 1.0: $pairs")
      assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 5L)),
        s"planted near-dup (jaccard ~0.82) must be found: $pairs")
      assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L), s"disjoint doc paired: $pairs")
    } finally SessionToken.deleteDir(dir)
  }

  test("simhash DATAFLOW result equals the exact hamming<=3 pair set (pigeonhole recall)") {
    // dedupSimhash's 4×16-bit chunk banding must find EVERY pair at
    // hamming <= 3 (pigeonhole: 3 flipped bits cannot touch all 4
    // chunks) and the confirm must drop everything above. Expected set
    // computed directly from simhash64 — equality in BOTH directions.
    val dir = java.nio.file.Files.createTempDirectory("simhash_flow").toString
    try {
      val docs = Seq((1L, base), (2L, nearDup), (3L, disjoint),
        (4L, "join a filter window row scan hash batch"), (5L, base))
      docs.map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val expected = (for {
        (i, ti) <- docs; (j, tj) <- docs if i < j
        h = java.lang.Long.bitCount(NearDup.simhash64(ti) ^ NearDup.simhash64(tj))
        if h <= 3
      } yield (i, j, h)).toSet
      assert(expected.nonEmpty, "planted corpus must contain at least one hamming<=3 pair")
      val got = NearDup.dedupSimhash(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"banded result $got != exact pair set $expected")
    } finally SessionToken.deleteDir(dir)
  }

  test("band buckets are SELECTIVE: disjoint docs share no bucket, near-dups share some, dups all") {
    // Pins candidate-generation selectivity on the production
    // bandBucket function itself: a collapsed bucket key (e.g. an
    // empty band slice) makes every doc collide in every band —
    // invisible to the dataflow tests (the exact confirm cleans it up
    // on 5 docs) but all-pairs-quadratic at corpus scale.
    def buckets(t: String): Seq[Long] = {
      val sig = NearDup.minhashSignature(t).toSeq
      (0 until NearDup.Bands).map(b => NearDup.bandBucket(sig, b))
    }
    val (b1, b2, b3) = (buckets(base), buckets(nearDup), buckets(disjoint))
    assert(b1.zip(b3).count { case (x, y) => x == y } == 0,
      "disjoint docs must not share any band bucket")
    assert(b1.zip(b2).count { case (x, y) => x == y } >= 1,
      "jaccard ~0.82 near-dups must share at least one band bucket")
    assert(b1.zip(buckets(base)).count { case (x, y) => x == y } == NearDup.Bands)
    assert(b1.distinct.length == NearDup.Bands,
      "one doc's 16 band buckets must not collapse onto each other (band index seeds the chain)")
  }

  test("hash-model shingles mirror string-model shingles on degenerate whitespace docs") {
    // split(" ", -1) keeps empty tokens (Spark SQL / DuckDB
    // string_split semantics): distinct degenerate docs must keep
    // distinct shingle sets in BOTH models, and the hash-set jaccard
    // must equal the string-set jaccard on every pair.
    val texts = Seq("", " ", "a", "a ", " a", "a b c", "a b c ", "a  b c", "a b c d")
    for (t <- texts)
      assert(NearDup.shingleHashes(t).toSet.size == NearDup.shingles(t).toSet.size,
        s"hash/string shingle-count mismatch for '$t'")
    for (a <- texts; b <- texts) {
      val hj = NearDup.jaccard(NearDup.shingleHashes(a).toSet, NearDup.shingleHashes(b).toSet)
      val sj = NearDup.jaccard(NearDup.shingles(a).toSet, NearDup.shingles(b).toSet)
      assert(hj == sj, s"jaccard mismatch for ('$a','$b'): hash=$hj string=$sj")
    }
  }

  test("fixture corpus: minhash pairs are confirmed by exact jaccard >= 0.8 and are symmetric-free") {
    val df = q("q_dedup_minhash").collect()
    df.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDecimal(2).doubleValue >= 0.8) // minhash jaccard stays decimal (no oracle)
    }
  }

  test("prefix-filtered jaccard (AllPairs/PPJoin) equals the naive inverted index") {
    val naive = NearDup.dedupNgramJaccard(spark, sf)
    val prefix = NearDup.dedupNgramJaccardPrefix(spark, sf)
    assert(naive.exceptAll(prefix).count() == 0 && prefix.exceptAll(naive).count() == 0,
      "prefix filtering must not change the result set")
  }

  test("ngram jaccard result contains no self-pairs and respects tau") {
    q("q_dedup_ngram_jaccard").collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("IVF ANN: candidates carry exact cosine scores and lists partition the space") {
    val ivf = q("q_sim_ann_ivf").collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    val brute = q("q_sim_topk").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivf.foreach { r =>
      brute.get(r.getLong(0)).foreach(b => assert(b == r.getDouble(2),
        s"score mismatch for ${r.getLong(0)}"))
    }
  }

  test("IVF ANN: ragged embedding keeps the -1 no-list sentinel (never probed); 1-centroid input analyzes") {
    // A ragged row scores NULL against EVERY centroid (float_dot is
    // null on length mismatch). The argmax pivot must keep the old
    // fold's -1 "no list" sentinel for it — struct ordering would
    // otherwise fall through to the index field and land it in list 0,
    // the query's own (always-probed) list, surfacing it as a
    // candidate with a NULL score.
    val dir = java.nio.file.Files.createTempDirectory("ivf_edge").toString
    try {
      val rng = new scala.util.Random(7)
      val rows = (0 until 17).map(i => (i.toLong, Array.fill(4)(rng.nextFloat()), i % 3)) :+
        ((99L, Array(1f, 2f), 0))
      rows.toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val res = graft.operators.SimilarityOps.simAnnIvf(spark, dir).collect()
      assert(res.nonEmpty)
      assert(!res.map(_.getLong(0)).contains(99L), "ragged row must never become a candidate")
      // 1-centroid degenerate table: the pivot is a single struct, not
      // a greatest() call (which requires >= 2 args) — must analyze
      val dir1 = java.nio.file.Files.createTempDirectory("ivf_one").toString
      try {
        Seq((0L, Array.fill(4)(0.5f), 0)).toDF("vec_id", "embedding", "label")
          .write.parquet(s"$dir1/embeddings.parquet")
        val one = graft.operators.SimilarityOps.simAnnIvf(spark, dir1).collect()
        assert(one.isEmpty) // the query vector itself is the only row and is excluded
      } finally SessionToken.deleteDir(dir1)
    } finally SessionToken.deleteDir(dir)
  }

  test("LSH ANN candidates are a subset of brute-force scores (same score per id)") {
    val brute = q("q_sim_topk").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lshAll = q("q_sim_ann_lsh").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // any LSH candidate that is also in the brute-force top-10 must carry the same score
    lshAll.foreach { case (id, sc) =>
      brute.get(id).foreach(b => assert(b == sc, s"score mismatch for $id"))
    }
  }

  test("int8-quantized search: high recall vs exact inner-product ranking") {
    val quant = q("q_sim_quantized").collect().map(_.getLong(0)).toSeq
    assert(quant.length == 10)
    // exact inner-product top-10 (same probe, same dot, no quantization)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val probeVec = emb.where(col("vec_id") === 0).head.getSeq[Float](1).toArray
    val exact = emb.where(col("vec_id") =!= 0)
      .withColumn("q", typedlit(probeVec))
      .withColumn("ip", expr("float_dot(embedding, q)"))
      .orderBy(desc("ip"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = quant.count(exact.contains)
    assert(recall >= 7, s"recall@10 = $recall/10 — int8 should barely perturb ranking")
  }

  test("PQ ANN: 4-byte codes, well-formed; top-10 lands in the exact top quintile") {
    import graft.operators.Clustering
    val pq = q("q_sim_ann_pq").collect()
    assert(pq.length == 10)
    assert(pq.map(_.getLong(2)).forall(_ >= 0)) // ADC distances are exact non-negative ints
    // exact integer-L2 ranking on the same quantized points (the ground truth PQ approximates)
    val pts = Clustering.points(spark, sf)
    val qp = pts.where(col("vec_id") === 0)
      .select(col("d"), col("q").as("qq"))
    val exact = pts.where(col("vec_id") =!= 0)
      .join(qp, "d")
      .groupBy("vec_id")
      .agg(sum((col("q") - col("qq")) * (col("q") - col("qq"))).as("l2"))
      .orderBy(col("l2"), col("vec_id")).limit(100)
      .collect().map(_.getLong(0))
    val got = pq.map(_.getLong(0)).toSet
    val in50 = got.count(exact.take(50).toSet.contains)
    val in100 = got.count(exact.toSet.contains)
    // PQ with 16 sampled codewords per 16-dim subspace is coarse by design:
    // it must concentrate results in the true neighborhood, not nail the
    // exact top-10 (distance concentration makes that impossible untrained)
    assert(in50 >= 7, s"only $in50/10 of PQ's top-10 are in the exact top-50")
    assert(in100 >= 9, s"only $in100/10 of PQ's top-10 are in the exact top-100")
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x) on exact dedup keepers") {
    val once = q("q_dedup_exact").select("keeper_id").collect().map(_.getLong(0)).toSet
    // re-dedup the kept set: all keepers are distinct texts → identity
    assert(once.size == q("q_dedup_exact").count())
  }
}
