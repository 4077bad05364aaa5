package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.9 vector-similarity operators over `embeddings.embedding`
  * (array<float>, dim 64).
  *
  * All dot products are left-fold double accumulations via
  * higher-order functions (codegen'd, no UDF), mirrored exactly by
  * the DuckDB oracle's list_transform/list_aggregate fold so results
  * are bit-identical.
  *
  * Scale notes: brute-force top-k is the correctness baseline (one
  * scan, TakeOrderedAndProject); pairwise similarity is blocked on
  * `label` so the self-join shuffles once on the block key and never
  * goes cartesian globally; the LSH variant buckets vectors by
  * random-hyperplane signature so candidate generation is an
  * equi-join on the bucket id.
  */
object SimilarityOps {

  /** dot(a,b) via the codegen'd FloatDotProduct expression — a double
    * left-fold bit-identical to the HOF form and the DuckDB oracle
    * (graft.functions.FloatDotProduct).
    */
  private def dotExpr(a: String, b: String): Column = expr(s"float_dot($a, $b)")

  private def normExpr(a: String): Column = expr(s"sqrt(float_dot($a, $a))")

  /** Cosine that cannot kill a query or flood a ranking (r18, found by
    * the NaN/zero-norm fixture probe): a zero-norm vector — routine in
    * a 100 TB corpus (failed encoder, padding row) — divides by zero,
    * which ANSI mode turns into a WHOLE-JOB failure on one corrupt
    * row; a NaN component instead rides the raw double into the
    * decimal presentation cast (ANSI rejects NaN there too), and under
    * non-ANSI Spark orders NaN as the LARGEST double, so one bad row
    * would flood every desc top-k head. try_divide nulls the
    * 0-divisor case; the magnitude guard nulls NaN/±Inf (both compare
    * false against <= MaxValue — Spark orders NaN above every value).
    * Corrupt rows thus surface as NULL scores: ranked LAST under desc
    * windows, excluded by >= thresholds — identifiable, never
    * fabricated, never fatal. On every finite input this is
    * bit-identical to the plain division, so oracle parity over the
    * clean fixtures is untouched.
    */
  private def cosOrNull(dot: Column, normProd: Column): Column = {
    val raw = try_divide(dot, normProd)
    when(abs(raw) <= lit(Double.MaxValue), raw)
  }

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  def simTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // headOption, not head: a source with no vec_id=0 (routine on an
    // empty/filtered 100 TB slice) means "no query vector", and the
    // honest answer is an empty result with the same shape, not a
    // driver NoSuchElementException (EmptyInputSweepSpec, r13). The
    // lit(false) gate constant-folds the scan away entirely.
    // a NON-FINITE query vector is NOT a query (r18): NaN scores every
    // candidate NULL, so the "ranking" would be 10 null-score rows in
    // vec_id order — the honest answer is the missing-query contract's
    // same-shape EMPTY result (the guarded integer paths SQ8/PQ already
    // behave this way because their index filters drop the probe row)
    val qopt = emb.where(col("vec_id") === 0 && finiteEmbedding(col("embedding")))
      .select(col("embedding"))
      .head(1).headOption.map(_.getSeq[Float](0).toArray)
    emb.where(col("vec_id") =!= 0 && lit(qopt.isDefined))
      .withColumn("q", typedlit(qopt.getOrElse(Array.empty[Float])))
      .withColumn("score_d",
        cosOrNull(dotExpr("embedding", "q"), normExpr("embedding") * normExpr("q")))
      // an undefined similarity is not a RANKING CANDIDATE (r19,
      // ragged-embedding sweep): a NULL score (zero-norm/NaN corpus row,
      // or a dimension-mismatched vector — float_dot returns NULL on
      // ragged inputs, never a partial sum) previously relied on
      // desc-nulls-last + enough real candidates to stay out of the
      // head; structural exclusion makes it capacity-independent, and a
      // ragged QUERY (finite, so it passes the guard above) now yields
      // the missing-query same-shape EMPTY instead of 10 null-score
      // rows. Bit-identical on clean data (no NULL scores exist there).
      // Contrast: q_knn_graph deliberately KEEPS null-scored edges
      // visible-and-last — an edge LIST reports corrupt adjacency, a
      // top-k head answers "most similar", where NULL is a non-answer.
      .where(col("score_d").isNotNull)
      .select(col("vec_id"), col("label"), dbl(col("score_d").cast("decimal(12,6)")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  /** All pairs with cosine ≥ 0.3 inside the same `label` block.
    * Blocking keeps the join an equi-join on label — at 100 TB the
    * block key would be an LSH bucket (see simAnnLsh) instead of a
    * 10-value label, but the dataflow is identical.
    */
  def simPairs(s: SparkSession, dir: String): DataFrame = {
    // norms are per-vector: compute them once before the pair join
    // (O(n·d)) instead of per candidate pair (O(n²·d)); bit-identical
    // to the oracle's in-expression norms since the fold is the same.
    val a = Tables.embeddings(s, dir)
      .select(col("vec_id").as("v1"), col("label"), col("embedding").as("e1"))
      .withColumn("na", normExpr("e1"))
    val b = Tables.embeddings(s, dir)
      .select(col("vec_id").as("v2"), col("label").as("label2"), col("embedding").as("e2"))
      .withColumn("nb", normExpr("e2"))
    a.join(b, col("label") === col("label2") && col("v1") < col("v2"))
      .withColumn("score_d", cosOrNull(dotExpr("e1", "e2"), col("na") * col("nb")))
      .where(col("score_d") >= 0.3)
      .select(col("v1"), col("v2"), col("label"), dbl(col("score_d").cast("decimal(12,6)")).as("score"))
      .orderBy("v1", "v2")
  }

  /** §2.13 (round-4) kNN graph: each vector's top-3 cosine neighbours
    * within its label block, both directions — the edge list that
    * feeds graph clustering (q_dedup_clusters consumes exactly this
    * kind of input) and graph-based ANN indexes. Blocked pair
    * generation (label equi-join, never cartesian), norms precomputed
    * per vector, and the per-source top-3 is a bounded window. Ranking
    * happens on the ROUNDED decimal score (+ dst tiebreak) so the cut
    * is deterministic across engines even when raw doubles differ in
    * the last ulp.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    knnGraphImpl(Tables.embeddings(s, dir))
  }

  /** Dataflow body over any (vec_id, label, embedding) frame — the
    * ScaleRehearsal blocked-self-join leg runs exactly this code on an
    * inflated frame (the caller's session loads graft.plans.GraftExtensions).
    */
  def knnGraphImpl(emb: DataFrame): DataFrame = {
    val a = emb
      .select(col("vec_id").as("src"), col("label"), col("embedding").as("e1"))
      .withColumn("na", normExpr("e1"))
    val b = emb
      .select(col("vec_id").as("dst"), col("label").as("label2"), col("embedding").as("e2"))
      .withColumn("nb", normExpr("e2"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score_dec").desc, col("dst"))
    a.join(b, col("label") === col("label2") && col("src") =!= col("dst"))
      .withColumn("score_dec",
        cosOrNull(dotExpr("e1", "e2"), col("na") * col("nb")).cast("decimal(12,6)"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("src"), col("dst"), col("rk").cast("long").as("rk"),
        dbl(col("score_dec")).as("score"))
      .orderBy("src", "rk")
  }

  /** Embedding-cosine near-dup drop list: any vector with a ≥0.4
    * neighbour of smaller vec_id is dropped (deterministic keeper =
    * smallest id in the near-dup relation).
    */
  def dedupEmbed(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.embeddings(s, dir)
      .select(col("vec_id").as("v1"), col("label"), col("embedding").as("e1"))
      .withColumn("na", normExpr("e1"))
    val b = Tables.embeddings(s, dir)
      .select(col("vec_id").as("v2"), col("label").as("label2"), col("embedding").as("e2"))
      .withColumn("nb", normExpr("e2"))
    a.join(b, col("label") === col("label2") && col("v1") < col("v2"))
      .withColumn("score_d", cosOrNull(dotExpr("e1", "e2"), col("na") * col("nb")))
      .where(col("score_d") >= 0.4)
      .select(col("v2").as("dropped_id"))
      .distinct()
      .orderBy("dropped_id")
  }

  /** k-NN label vote: probes are vec_id<10, candidates vec_id>=10;
    * k=5 by cosine, majority label with (count desc, label asc)
    * tiebreak. Probe side broadcasts.
    */
  def knnLabel(s: SparkSession, dir: String): DataFrame = {
    val probes = Tables.embeddings(s, dir).where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .withColumn("np", normExpr("pe"))
    // NULL label = not a VOTER (r19 s9, the s8 discipline on the LABEL
    // axis): an unlabeled candidate with a perfectly valid embedding
    // can out-rank real candidates into the rn<=5 window, and its
    // NULL-label vote group then WINS every count tie — asc(label)
    // sorts NULL first in Spark — fabricating pred_label = NULL, a
    // "prediction" of nothing a training pipeline would ingest. You
    // cannot vote for "no label". Bit-identical on clean data (no null
    // labels exist there); oracle mirrored.
    val cands = Tables.embeddings(s, dir)
      .where(col("vec_id") >= 10 && col("label").isNotNull)
      .select(col("vec_id").as("cand_id"), col("label"), col("embedding").as("ce"))
      .withColumn("nc", normExpr("ce"))
    val byScore = Window.partitionBy(col("probe_id"))
      .orderBy(desc("score_d"), asc("cand_id"))
    val byVotes = Window.partitionBy(col("probe_id"))
      .orderBy(desc("n_votes"), asc("label"))
    cands.join(broadcast(probes))
      .withColumn("score_d", cosOrNull(dotExpr("pe", "ce"), col("np") * col("nc")))
      // NULL score = not a VOTER (r19, ragged-embedding sweep): the
      // rn<=5 vote window is capacity-dependent, so with fewer than 5
      // real candidates a corrupt (zero-norm/NaN/ragged) candidate's
      // NULL-score row entered the vote and could FLIP a probe's
      // predicted label via the count/label tiebreak (measured under
      // the mutant); and a ragged PROBE scored every candidate NULL,
      // fabricating a prediction from nothing — now it honestly gets
      // no prediction row. Bit-identical on clean data (no NULL scores
      // exist there, so every rn is unchanged).
      .where(col("score_d").isNotNull)
      .withColumn("rn", row_number().over(byScore))
      .where(col("rn") <= 5)
      .groupBy(col("probe_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rk", row_number().over(byVotes))
      .where(col("rk") === 1)
      .select(col("probe_id"), col("label").as("pred_label"), col("n_votes"))
      .orderBy("probe_id")
  }

  /** Approximate NN via random-hyperplane LSH: 8-bit signatures from
    * integer-deterministic hyperplanes (portable, no RNG at runtime),
    * candidates = query's bucket, ranked by true cosine. The scale
    * path: signature is a map-side projection, candidate generation an
    * equi-join on bucket. FULLY ORACLED (round 7): the hyperplane grid
    * is exact IEEE arithmetic (32-bit Knuth hash, power-of-two divide)
    * so DuckDB regenerates it in SQL and replays the signature fold —
    * an ANN whose approximation is itself deterministic is still an
    * exact function of its input. SimilaritySpec additionally checks
    * containment in the brute-force ranking.
    */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val planes: Array[Array[Double]] = Array.tabulate(8, 64) { (j, d) =>
      val h = (2654435761L * (j * 64 + d + 1)) & 0xffffffffL
      h.toDouble / 2147483648.0 - 1.0
    }
    val emb = Tables.embeddings(s, dir).withColumn("planes", typedlit(planes))
    // r21 (guide §4): the signature fold used to be a doubly-nested
    // interpreted HOF — transform over 8 planes, each running an
    // aggregate(zip_with(...)) dot = 512 lambda invocations per row
    // outside whole-stage codegen. Unrolled to 8 codegen double_dot
    // calls (planes[j] constant-folds to a literal array) combined by
    // plain integer arithmetic — bit-identical by construction: the
    // fold `acc*2+bit` over j=0..7 IS Σ bit_j·2^(7-j), each dot is the
    // same left-to-right IEEE accumulation (VectorExprSpec pins it,
    // ragged/null/NaN included), and a NULL dot CASE/when's to bit 0
    // in both forms. The oracle replays the identical fold in SQL.
    val withSig = emb.withColumn("bucket",
      (0 until planes.length).foldLeft(lit(0)) { (acc, j) =>
        acc * lit(2) +
          when(expr(s"double_dot(embedding, planes[$j]) >= 0"), lit(1)).otherwise(lit(0))
      })
    // same missing-query-vector contract as simTopK: empty result,
    // same shape, no driver head-of-empty crash
    val qrow = withSig
      .where(col("vec_id") === 0 && finiteEmbedding(col("embedding"))) // see simTopK (r18)
      .select(col("embedding"), col("bucket")).head(1).headOption
    val qvec = qrow.map(_.getSeq[Float](0).toArray).getOrElse(Array.empty[Float])
    val qbucket = qrow.map(_.getInt(1)).getOrElse(0)
    withSig.where(col("vec_id") =!= 0 && col("bucket") === qbucket && lit(qrow.isDefined))
      .withColumn("q", typedlit(qvec))
      .withColumn("score_d",
        cosOrNull(dotExpr("embedding", "q"), normExpr("embedding") * normExpr("q")))
      // NULL score = not a candidate (r19) — see simTopK's note; a
      // ragged vector lands in a deterministic bucket (its null plane
      // projection is CASE'd to bit 0) but must not enter the head
      .where(col("score_d").isNotNull)
      .select(col("vec_id"), dbl(col("score_d").cast("decimal(12,6)")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  /** Approximate NN via IVF (inverted-file) coarse quantization: the
    * first 16 vectors act as deterministic coarse centroids; every
    * vector is assigned to its nearest centroid (one map-side pass
    * with float_dot); the query probes its nprobe=2 nearest lists and
    * ranks those candidates by exact cosine. At scale, list
    * assignment is a projection and candidate generation an equi-join
    * on the list id — the IVF sibling of simAnnLsh. FULLY ORACLED
    * (round 7): deterministic centroids + strict-greater argmax +
    * stable probe ordering make the whole chain SQL-replayable
    * (row_number ties to the lower idx = the argmax's keep-first-max).
    * SimilaritySpec additionally checks score consistency.
    *
    * Round 8: assignment is a codegen'd width-16 `greatest()` over
    * (score, -idx) structs — the same pivoted-argmax trick
    * q_cluster_kmeans uses — instead of an interpreted 16-step HOF
    * fold (higher-order functions never enter whole-stage codegen).
    * `greatest` keeps the max score and, on exact float ties, the
    * max -idx = the LOWEST centroid idx, bit-identical to the old
    * fold's strict-greater keep-first semantics and to the oracle's
    * row_number replay. The query vector is centroids(0) (vec_id 0
    * is one of the 16), so the whole setup is ONE bounded driver
    * collect — no second `head` job.
    */
  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val collectedRows = emb.where(col("vec_id") < 16)
      .orderBy("vec_id").select(col("vec_id"), col("embedding"))
      .collect()
    val collected: Array[Array[Float]] = collectedRows.map(_.getSeq[Float](1).toArray)
    // the query vector IS vec_id 0. An input with vec_ids 1-15 but no 0
    // would silently promote the lowest-id vector to query; gate on
    // vec_id 0's presence and return the same-shape empty result
    // instead — the simTopK/simAnnLsh missing-query contract (ADVICE
    // r13). Presence is `indexWhere`, not `head == 0` (ADVICE r14): a
    // hypothetical negative vec_id alongside 0 would make head-based
    // detection wrongly report the query missing, and the lookup below
    // locates the query vector BY ID, not positionally.
    val queryIdx = collectedRows.indexWhere(_.getAs[Number](0).longValue == 0L)
    // non-finite query vector = no query (r18) — see simTopK's note
    val hasQuery = queryIdx >= 0 &&
      collected(queryIdx).forall(x => !x.isNaN && !x.isInfinite)
    // zero centroids (empty source) would make the argmax a 0-ary
    // greatest() and centroids(0) a crash; substitute one dummy
    // centroid to keep the plan well-formed and gate every row out
    // below — empty in, same-shape empty out (EmptyInputSweepSpec, r13)
    val centroids = if (collected.isEmpty) Array(Array.empty[Float]) else collected
    val cands = centroids.zipWithIndex.map { case (c, i) =>
      struct(dotExpr("embedding", s"cents[$i]").as("score"), lit(-i).as("nidx"))
    }
    // `greatest` needs >=2 args (a 1-centroid table is legal input), and
    // a row whose EVERY score is NULL (ragged / null-element embedding)
    // must keep the old fold's -1 "no list" sentinel: struct ordering
    // ranks a NULL score below any real one, so the argmax result
    // carries a NULL score iff all 16 were NULL — without the guard it
    // would fall through to the nidx field and land the row in list 0.
    val best = if (cands.length == 1) cands.head else greatest(cands: _*)
    val withList = emb.where(lit(hasQuery))
      .withColumn("cents", typedlit(centroids))
      .withColumn("best", best)
      .withColumn("ivf_list",
        when(col("best").getField("score").isNull, lit(-1))
          .otherwise(-col("best").getField("nidx")))
      .drop("cents", "best")
    // by-id lookup; when gated (hasQuery false) every row is already
    // filtered out above, so the dummy only keeps the plan well-formed
    val qvec = if (hasQuery) centroids(queryIdx) else centroids(0)
    // nprobe=2: query's own list + nearest other centroid list
    val scores = centroids.zipWithIndex.map { case (c, i) =>
      (i, c.zip(qvec).map { case (x, y) => x.toDouble * y.toDouble }.sum)
    }.sortBy(-_._2).map(_._1).take(2)
    withList.where(col("vec_id") =!= 0 && col("ivf_list").isin(scores: _*))
      .withColumn("q", typedlit(qvec))
      .withColumn("score_d",
        cosOrNull(dotExpr("embedding", "q"), normExpr("embedding") * normExpr("q")))
      // NULL score = not a candidate (r19) — see simTopK's note (the
      // ivf_list=-1 sentinel already routes most ragged rows out; this
      // also covers a ragged vector that ties into a probed list)
      .where(col("score_d").isNotNull)
      .select(col("vec_id"), col("ivf_list"), dbl(col("score_d").cast("decimal(12,6)")).as("score"))
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  /** §2.13 (round-4) int8-quantized inner-product search — the memory/
    * bandwidth half of every production ANN stack (FAISS-style SQ8,
    * public): each vector is symmetrically quantized to int8 with its
    * own scale (q_i = round(x_i·127/amax)), the dot product runs in
    * EXACT integer arithmetic (SIMD-able, 4× less memory traffic than
    * float32), and the score is reconstructed with two float64 scale
    * multiplies. Quantization is a map-side projection; the scan stays
    * O(n·d) but moves a quarter of the bytes — at 100 TB of vectors
    * that is the difference between memory-bound and compute-bound.
    *
    * Determinism: rounding is floor(x+0.5) (identical float64 input →
    * identical result on both engines; engine round() half-up/half-even
    * conventions never enter), the integer Σq_a·q_b is exact, and only
    * the final two-multiply reconstruction touches floats again.
    * SimilaritySpec checks recall@10 against the exact ranking.
    */
  def simQuantized(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §4; the r21 roadmap's item 1b): the three interpreted
    // HOFs on this hot path (amax scan, int8 encode, integer dot) are
    // replaced by the codegen trio in functions/QuantExpressions.scala
    // — bit-identical semantics pinned by QuantExprSpec on both eval
    // paths, incl. ANSI's LOUD integer overflow (Math.*Exact, never a
    // silent wrap) and array_max's null-skip/NaN-above ordering. The
    // optimizer had also DUPLICATED the amax HOF below the pushed
    // amax>0 filter (the §4.4 pattern), so each row paid the 64-lambda
    // scan twice; the codegen form keeps the duplication cheap and the
    // whole quantize/dot pipeline inside whole-stage codegen.
    val q = Tables.embeddings(s, dir)
      .withColumn("amax", expr("abs_max(embedding)"))
      // amax > 0 alone does NOT exclude a NaN component (Spark orders
      // NaN above every value, so NaN > 0 is TRUE); without the upper
      // bound a NaN amax would SILENTLY encode every code to 0
      // (floor(double) saturates NaN→0 — measured r22; the old claim
      // that ANSI kills the job here was wrong, floor's own double→
      // BIGINT conversion never throws). The bound rejects NaN and
      // +Inf the same way cosOrNull's magnitude guard does.
      .where(col("amax") > 0 && col("amax") <= lit(Double.MaxValue))
      // guarded by amax > 0 above: sq8_quantize never sees a null amax
      .withColumn("qv", expr("sq8_quantize(embedding, amax)"))
      .select(col("vec_id"), col("label"), col("amax"), col("qv"))
    val probe = q.where(col("vec_id") === 0)
      .select(col("amax").as("pmax"), col("qv").as("pq"))
    q.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("qdot", expr("long_dot(qv, pq)"))
      .withColumn("score_d",
        (col("amax") / lit(127.0)) * (col("pmax") / lit(127.0)) * col("qdot").cast("double"))
      // try_cast, not cast (r19): SQ8 scores are DOT products, not
      // cosines, so they are unbounded — one finite-but-huge corrupt
      // vector (amax 1e20 passes the guard above; its own int8 codes
      // are fine because SQ8 self-normalizes by amax) lands a score
      // that cannot be represented as DECIMAL(12,6), and under ANSI a
      // plain cast kills the whole job [NUMERIC_VALUE_OUT_OF_RANGE].
      // An unrepresentable score becomes NULL instead — it sorts last
      // under desc (never reaches the head) exactly like cosOrNull's
      // undefined cosines. Bit-identical to cast on in-range values.
      // NULL score = not a candidate (r19) — see simTopK's note. Both
      // SQ8 null sources are non-answers: an unrepresentable
      // (corrupt-magnitude) score and a NULL qdot from a
      // dimension-mismatched vector (zip_with pads the short side with
      // null, acc + null stays null — never a partial sum). A ragged
      // QUERY nulls every candidate's qdot, so this also yields the
      // missing-query same-shape EMPTY there.
      .select(col("vec_id"), col("label"),
        dbl(expr("try_cast(score_d AS DECIMAL(12,6))")).as("score"))
      .where(col("score").isNotNull)
      .orderBy(desc("score"), asc("vec_id"))
      .limit(10)
  }

  /** Product quantization (PQ) ANN with asymmetric-distance lookup
    * tables — the codebook compression half of production ANN (IVF
    * gives the routing half, SQ8 the bandwidth half; this completes
    * the family). 64 dims split into M=4 subspaces of 16; each
    * subspace has a 16-codeword codebook (the first 16 vectors'
    * subvectors — deterministic sampling init, no RNG); every vector
    * encodes to 4 codes = 4 BYTES at rest (64× smaller than float32);
    * query scoring is the classic ADC trick: precompute the 4×16
    * query-to-codeword table, then each candidate's distance is FOUR
    * table lookups + a sum, never a float dot product.
    *
    * Everything runs on round(x·1e6+2e6)-quantized integers (the
    * q_cluster_kmeans discipline), so encoding, the ADC table, and
    * the final distances are exact integers and the WHOLE PQ pipeline
    * is oracled in DuckDB — none of the float-ANN reproducibility
    * caveats. Scale: codebook and ADC table are tiny broadcasts; the
    * encode pass is linear with map-side-combinable aggs; at serving
    * scale only the 4-byte codes are rescanned.
    */
  def simAnnPq(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val pts = emb
      // corrupt-embedding guard (r18/r19): a NaN/Inf/huge-finite
      // component kills the ANSI long cast (or the squared-distance
      // multiply) below, and a NULL component would silently score
      // partial-dimension — unquantizable vectors leave the index
      .where(finiteEmbedding(col("embedding")))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), expr("d div 16").as("m"), col("d"),
        round(col("x").cast("double") * 1000000.0 + 2000000.0).cast("long").as("q"))
      .localCheckpoint() // reused by codebook, encode, and ADC stages
    val ids = emb.select("vec_id").orderBy("vec_id").limit(16)
      .withColumn("c", row_number().over(Window.orderBy("vec_id")) - 1)
    val cb = pts.join(broadcast(ids), "vec_id")
      .select(col("m"), col("c"), col("d"), col("q").as("cq"))
    val enc = pts.join(broadcast(cb), Seq("m", "d"))
      .groupBy(col("vec_id"), col("m"), col("c"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("dist"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("mm"))
      .select(col("vec_id"), col("m"), col("mm.c").as("c"))
    val qp = pts.where(col("vec_id") === 0).select(col("m"), col("d"), col("q").as("qq"))
    val adc = qp.join(broadcast(cb), Seq("m", "d"))
      .groupBy(col("m"), col("c"))
      .agg(sum((col("qq") - col("cq")) * (col("qq") - col("cq"))).as("contrib"))
    // full-subspace contract (r19, ragged-embedding sweep): pq_dist is a
    // SUM of per-subspace contributions, and this ranking is ASC — a
    // truncated dim-8 vector carries codes for 1 of 4 subspaces, sums a
    // quarter of the distance, and silently WINS the head (measured
    // under the mutant: the planted ragged vector at rank 1). IVF
    // already routes such rows to the -1 "no list" sentinel; PQ's
    // equivalent is requiring the encoded subspace set to equal the ADC
    // table's exactly. LEFT join keeps a longer vector's extra-m rows
    // (contrib NULL), so the two counts reject both directions: short
    // (n_m < total) and long (n_m > total ≥ n_scored). A ragged QUERY
    // degenerates the ADC to fewer subspaces than every clean vector
    // carries, so the same filter yields the missing-query same-shape
    // EMPTY contract. n_m_total rides a 1-row broadcast scalar frame
    // (the documented BNLJ class) — no driver job added.
    val nmTotal = adc.select(countDistinct(col("m")).as("n_m_total"))
    enc.where(col("vec_id") =!= 0)
      .join(broadcast(adc), Seq("m", "c"), "left")
      .groupBy(col("vec_id")).agg(sum(col("contrib")).as("pq_dist"),
        count(lit(1)).as("n_m"), count(col("contrib")).as("n_scored"))
      .crossJoin(broadcast(nmTotal))
      .where(col("n_m") === col("n_m_total") && col("n_scored") === col("n_m_total"))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("pq_dist"))
      .orderBy(col("pq_dist"), col("vec_id"))
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_ann_pq" -> simAnnPq,
    "q_sim_quantized" -> simQuantized,
    "q_sim_ann_ivf" -> simAnnIvf,
    "q_sim_topk" -> simTopK,
    "q_sim_pairs" -> simPairs,
    "q_knn_graph" -> knnGraph,
    "q_dedup_embed" -> dedupEmbed,
    "q_knn_label" -> knnLabel,
    "q_sim_ann_lsh" -> simAnnLsh
  )

  private val dotSql =
    "list_aggregate(list_transform(list_zip(%s, %s), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), 'sum')"
  private val normSql =
    "sqrt(list_aggregate(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"

  private def cosSql(a: String, b: String) =
    s"${dotSql.format(a, b)} / (${normSql.format(a)} * ${normSql.format(b)})"

  val oracle: Map[String, String] = Map(
    "q_sim_ann_pq" ->
      """WITH pts AS (
        |  SELECT vec_id, (s.d - 1) // 16 AS m, s.d AS d, s.q AS q FROM (
        |    SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'d': i, 'q': CAST(round(CAST(embedding[i] AS DOUBLE)
        |                                    * 1000000.0 + 2000000.0) AS BIGINT)})) AS s
        |    FROM embeddings)),
        |ids AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cb AS (SELECT c, m, d, q AS cq FROM pts JOIN ids USING (vec_id)),
        |ed AS (
        |  SELECT p.vec_id, p.m, cb.c,
        |    CAST(sum((p.q - cb.cq) * (p.q - cb.cq)) AS BIGINT) AS dist
        |  FROM pts p JOIN cb ON p.m = cb.m AND p.d = cb.d
        |  GROUP BY p.vec_id, p.m, cb.c),
        |enc AS (
        |  SELECT vec_id, m, c FROM (
        |    SELECT vec_id, m, c,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
        |    FROM ed) WHERE rn = 1),
        |qp AS (SELECT m, d, q AS qq FROM pts WHERE vec_id = 0),
        |adc AS (
        |  SELECT cb.m, cb.c,
        |    CAST(sum((qp.qq - cb.cq) * (qp.qq - cb.cq)) AS BIGINT) AS contrib
        |  FROM qp JOIN cb ON qp.m = cb.m AND qp.d = cb.d
        |  GROUP BY cb.m, cb.c),
        |dist AS (
        |  SELECT e.vec_id, CAST(sum(a.contrib) AS BIGINT) AS pq_dist
        |  FROM enc e JOIN adc a USING (m, c)
        |  WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        |SELECT d.vec_id, emb.label, d.pq_dist
        |FROM dist d JOIN embeddings emb USING (vec_id)
        |ORDER BY pq_dist, vec_id LIMIT 10""".stripMargin,
    "q_knn_graph" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    CAST(${cosSql("a.embedding", "b.embedding")} AS DECIMAL(12,6)) AS score_dec
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT src, dst, score_dec,
         |    row_number() OVER (PARTITION BY src ORDER BY score_dec DESC, dst) AS rk
         |  FROM p)
         |SELECT src, dst, CAST(rk AS BIGINT) AS rk, CAST(score_dec AS DOUBLE) AS score
         |FROM r WHERE rk <= 3
         |ORDER BY src, rk""".stripMargin,
    "q_sim_quantized" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax,
        |    embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, amax,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT)) AS qv
        |  FROM base WHERE amax > 0),
        |p AS (SELECT amax AS pmax, qv AS pq FROM q WHERE vec_id = 0)
        |SELECT vec_id, label,
        |  CAST(CAST(((amax / 127.0) * (pmax / 127.0)) *
        |    CAST(CAST(list_aggregate(list_transform(list_zip(qv, pq),
        |      s -> s[1] * s[2]), 'sum') AS BIGINT) AS DOUBLE)
        |    AS DECIMAL(12,6)) AS DOUBLE) AS score
        |FROM q CROSS JOIN p
        |WHERE vec_id <> 0
        |ORDER BY score DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q_sim_topk" ->
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  CAST(CAST(${cosSql("embedding", "q")} AS DECIMAL(12,6)) AS DOUBLE) AS score
         |FROM embeddings, qv
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id
         |LIMIT 10""".stripMargin,
    // IVF is fully deterministic (first-16 centroids, strict-greater
    // argmax, stable top-2 probe), so the whole chain replays in SQL:
    // row_number ties break to the LOWER centroid idx, exactly the
    // Spark fold's keep-first-max semantics.
    "q_sim_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, embedding AS cemb
         |  FROM embeddings WHERE vec_id < 16),
         |asg AS (
         |  SELECT vec_id, CAST(idx AS INTEGER) AS ivf_list FROM (
         |    SELECT e.vec_id, c.idx,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dotSql.format("e.embedding", "c.cemb")} DESC, c.idx) AS rn
         |    FROM embeddings e CROSS JOIN cents c)
         |  WHERE rn = 1),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT idx FROM cents, qv
         |  ORDER BY ${dotSql.format("cemb", "q")} DESC, idx LIMIT 2)
         |SELECT e.vec_id, a.ivf_list,
         |  CAST(CAST(${cosSql("e.embedding", "q")} AS DECIMAL(12,6)) AS DOUBLE) AS score
         |FROM embeddings e JOIN asg a USING (vec_id), qv
         |WHERE e.vec_id <> 0 AND a.ivf_list IN (SELECT idx FROM probe)
         |ORDER BY score DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    // The LSH hyperplanes are integer-deterministic (Knuth-hash grid,
    // h/2^31 - 1 is EXACT IEEE: 32-bit h, power-of-two divide), so the
    // plane matrix regenerates inside SQL; per-plane dots replay the
    // HOF's left-to-right double fold, and the bucket fold acc*2+bit
    // equals the order-free sum of bit_j << (7-j).
    "q_sim_ann_lsh" ->
      s"""WITH sig AS (
         |  SELECT vec_id, embedding,
         |    list_aggregate(list_transform(range(0, 8), j ->
         |      CASE WHEN list_aggregate(list_transform(range(1, len(embedding) + 1), i ->
         |                  CAST(embedding[i] AS DOUBLE) *
         |                  (CAST((2654435761 * (j * 64 + i)) % 4294967296 AS DOUBLE)
         |                   / 2147483648.0 - 1.0)),
         |                'sum') >= 0
         |           THEN 1 << CAST(7 - j AS INTEGER) ELSE 0 END), 'sum') AS bucket
         |  FROM embeddings),
         |qv AS (SELECT embedding AS q, bucket AS qb FROM sig WHERE vec_id = 0)
         |SELECT s.vec_id,
         |  CAST(CAST(${cosSql("s.embedding", "q")} AS DECIMAL(12,6)) AS DOUBLE) AS score
         |FROM sig s, qv
         |WHERE s.vec_id <> 0 AND s.bucket = qb
         |ORDER BY score DESC, s.vec_id
         |LIMIT 10""".stripMargin,
    "q_sim_pairs" ->
      s"""SELECT a.vec_id AS v1, b.vec_id AS v2, a.label,
         |  CAST(CAST(${cosSql("a.embedding", "b.embedding")} AS DECIMAL(12,6)) AS DOUBLE) AS score
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY v1, v2""".stripMargin,
    "q_dedup_embed" ->
      s"""SELECT DISTINCT b.vec_id AS dropped_id
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY dropped_id""".stripMargin,
    "q_knn_label" ->
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 10),
         |cands AS (SELECT vec_id AS cand_id, label, embedding AS ce FROM embeddings
         |          WHERE vec_id >= 10 AND label IS NOT NULL),
         |scored AS (
         |  SELECT probe_id, cand_id, label,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY ${cosSql("pe", "ce")} DESC, cand_id) AS rn
         |  FROM cands CROSS JOIN probes),
         |votes AS (
         |  SELECT probe_id, label, count(*) AS n_votes
         |  FROM scored WHERE rn <= 5
         |  GROUP BY probe_id, label)
         |SELECT probe_id, label AS pred_label, n_votes
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |        ORDER BY n_votes DESC, label) AS rk FROM votes)
         |WHERE rk = 1
         |ORDER BY probe_id""".stripMargin
  )
}
