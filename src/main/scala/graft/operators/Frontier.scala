package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.14 (round-4, session 3) frontier/statistics operators: Pareto
  * skyline, per-group mode, PMI collocations, and a fully-oracled
  * count-min sketch. Shared discipline as the rest of the engine:
  * shuffles only on real keys, tiny derived tables broadcast back,
  * doubles never aggregated raw, every output totally ordered.
  */
object Frontier {

  /** 2-D Pareto skyline of the part table (minimize p_retailprice,
    * maximize p_size): a part is dominated if some other part is
    * no-worse in both dimensions and strictly better in one.
    *
    * NOT the quadratic NOT-EXISTS self-join (that's the oracle's
    * formulation): a 2-D skyline is a running-max scan over the
    * price-sorted *distinct-price* maxima —
    *   1. groupBy(price) → max(size): map-side combinable, ONE
    *      exchange, collapses the fact table to |distinct prices|;
    *   2. running max of size over strictly-cheaper prices on that
    *      collapsed table (a single small-partition window — the
    *      collapsed table is dimension-sized, not fact-sized);
    *   3. a part survives iff its (price, size) equals a surviving
    *      (price, max-size) pair — broadcast semi join back, so the
    *      fact table is scanned exactly twice and never self-joined.
    * Parts tied on both dimensions don't dominate each other
    * (dominance needs one strict inequality), so all of them survive
    * — exactly what the pair semi-join yields.
    */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(s, dir)
    val perPrice = part.groupBy(col("p_retailprice"))
      .agg(max(col("p_size")).as("msize"))
    val prev = Window.orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perPrice
      .withColumn("prevmax", max(col("msize")).over(prev))
      .where(col("prevmax").isNull || col("msize") > col("prevmax"))
      .select(col("p_retailprice").as("f_price"), col("msize"))
    part.join(broadcast(frontier),
        col("p_retailprice") === col("f_price") && col("p_size") === col("msize"),
        "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("p_size"))
      .orderBy("p_partkey")
  }

  /** Per-group mode: the most frequent nation within each market
    * segment, ties broken toward the smallest nation key. Two
    * map-side-combinable aggregates and zero windows — the mode is an
    * argmax over (count, key) expressed as `min(struct(-cnt, key))`,
    * the same struct-ordering trick as q_agg_argmin, so no per-group
    * row_number sort materializes at any scale.
    */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val cnts = Tables.customer(s, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
    cnts.groupBy(col("c_mktsegment"))
      .agg(
        min(struct((-col("cnt")).as("neg"), col("c_nationkey").as("nk"))).as("m"),
        sum(col("cnt")).as("n_customers"))
      .select(
        col("c_mktsegment"),
        col("m.nk").as("mode_nation"),
        (-col("m.neg")).as("mode_cnt"),
        col("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** PMI collocations: bigrams whose parts co-occur far more than
    * their unigram frequencies predict — the classic phrase-mining /
    * tokenizer-vocabulary signal. pmi(x,y) = ln( p(xy) / (p(x)p(y)) )
    * over corpus unigram/bigram distributions; top 20 by PMI.
    *
    * Scale: one exchange for unigram counts, one for bigram counts
    * (both map-side combinable); the bigram→unigram probability joins
    * SHUFFLE on the token (corpus vocabularies don't broadcast — same
    * rule as q_text_lm_score); the two 1-row totals DO broadcast. The
    * ln() is computed in float64 with identical op order on both
    * engines and rounded to DECIMAL(18,9), so ordering and hashing
    * are ulp-stable; the final cut is TakeOrderedAndProject on
    * (pmi desc, bigram) — a total order, no bounded-size global sort.
    */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      // r22 (guide §4): array_remove(arr, '') ≡ filter(arr, t -> t != '')
      // when the array has no null elements (split never yields any) —
      // same elements, same order — but ArrayRemove is a codegen
      // expression while the lambda runs through interpreted Invoke per
      // token, outside whole-stage codegen, and the explode's inferred
      // size()>0 guard duplicated that lambda into the Filter below the
      // Project (plans/r22/q_text_collocations_before.txt: 8 lambda
      // evaluations per plan). Tokenization is the per-byte hot loop of
      // every corpus pass, so it must stay inside codegen.
      .select(expr("array_remove(split(text, ' '), '')").as("ts"))
    val uni = docs.select(explode(col("ts")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("ucnt"))
    val utot = uni.agg(sum(col("ucnt")).cast("double").as("t"))
    val btot = docs.agg(
      sum(greatest(size(col("ts")) - 1, lit(0))).cast("double").as("tb"))
    val bi = docs.select(expr("bigrams(ts)"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("bcnt"))
      .where(col("bcnt") >= 3)
      .withColumn("x", expr("split_part(bigram, ' ', 1)"))
      .withColumn("y", expr("split_part(bigram, ' ', 2)"))
    val ux = uni.select(col("tok").as("x"), col("ucnt").as("ux"))
    val uy = uni.select(col("tok").as("y"), col("ucnt").as("uy"))
    bi.join(ux, "x").join(uy, "y")
      .crossJoin(broadcast(utot)).crossJoin(broadcast(btot))
      .withColumn("pmi",
        log((col("bcnt").cast("double") / col("tb")) /
          ((col("ux").cast("double") / col("t")) * (col("uy").cast("double") / col("t"))))
          .cast("decimal(18,9)").cast("double"))
      .select(col("bigram"), col("bcnt"), col("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(20)
  }

  /** Count-min heavy hitters with the sketch's own estimates: build
    * one d×w count-min grid over ALL events (6 KB regardless of input
    * size — the O(1)-memory frequency pass), then report, for every
    * user whose exact count clears the heavy-hitter bar, the exact
    * count next to the sketch estimate. est ≥ exact always (counters
    * only overcount); FrontierSpec proves the inequality, grid
    * layout-independence, and the exact-replay equality.
    *
    * Scale: the sketch aggregate is a single partial+final agg whose
    * state never exceeds d·w counters per partial; the exact groupBy
    * is the |users| exchange any heavy-hitter report needs; the 1-row
    * sketch broadcasts onto the qualified users for estimation — at
    * 100 TB the sketch pass can run WITHOUT the exact pass to find
    * candidate keys first (the classic two-phase heavy-hitter plan).
    */
  def aggCountmin(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMin
    // Input contract: keys must lie in [0, CountMin.MaxKey] (~1.32e14) —
    // bucket() throws per-row past that, mid-job, because a wrapping
    // key*A_j multiply would silently diverge from the DuckDB oracle's
    // overflow-checked BIGINT math. Feeding wider ids (raw 64-bit
    // hashes, snowflake ids)? Pre-mod them first:
    //   cmsAgg(pmod(col("id"), lit(CountMin.P)))
    // — congruent mod P, so the sketch grid is unchanged.
    val cmsAgg = udaf(new CountMin)
    val ev = Tables.events(s, dir)
    val sketch = ev.agg(cmsAgg(col("user_id")).as("sk"))
    val exact = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
      .where(col("exact_cnt") >= 20)
    // row-j estimate: grid[j*W + ((uid*A_j + B_j) mod P) mod W] (1-based element_at)
    def cell(j: Int): Column = element_at(col("sk"),
      lit(j * CountMin.W + 1) +
        pmod(pmod(col("user_id") * CountMin.A(j) + CountMin.B(j), lit(CountMin.P)),
          lit(CountMin.W.toLong)).cast("int"))
    exact.crossJoin(broadcast(sketch))
      .withColumn("est_cnt", least(cell(0), cell(1), cell(2)))
      .select(col("user_id"), col("exact_cnt"), col("est_cnt"))
      .orderBy("user_id")
  }

  /** Exact-moment Pearson correlation per group (quantity vs extended
    * price within each return flag). The five moments are EXACT
    * decimal sums — map-side-combinable, associative, one exchange —
    * and only the final correlation formula runs in float64, with
    * explicit parenthesization mirrored in the oracle so both engines
    * execute the identical correctly-rounded op sequence, then a
    * DECIMAL(9,6) presentation round. Spark's builtin `corr` keeps
    * running double moments (partition-order-dependent); this is the
    * deterministic formulation a regression-test pipeline needs.
    */
  def aggCorr(s: SparkSession, dir: String): DataFrame = {
    val q = dec(col("l_quantity"))
    val p = dec(col("l_extendedprice"))
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(q).as("sx"), sum(p).as("sy"),
        sum(q * p).as("sxy"), sum(q * q).as("sxx"), sum(p * p).as("syy"))
      .select(col("l_returnflag"), col("n"), {
        // zero-variance guard (the q_anomaly_zscore/q_win_rolling_slope
        // family discipline, which this member MISSED): a constant
        // quantity or price makes its variance term 0 and ONE
        // degenerate group kills the whole query — measured ANSI
        // [DIVIDE_BY_ZERO] at the divide itself (Spark 4 ANSI throws
        // on double division too; with ANSI off it would be the NaN
        // decimal-cast kill instead). SQL corr() semantics:
        // correlation of a zero-variance series is undefined — NULL.
        // The guard is constant-true on real groups (both variances
        // positive), mirrored in the oracle's CASE.
        val num = col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val varx = col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val vary = col("n") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        when(varx > 0 && vary > 0,
          (num / (sqrt(varx) * sqrt(vary))).cast("decimal(9,6)").cast("double"))
          .as("corr_qty_price")
      })
      .orderBy("l_returnflag")
  }

  /** Robust (median/MAD) outlier detection per event type — the
    * heavy-tail-safe twin of q_anomaly_zscore: a value is anomalous if
    * its absolute deviation from the group median exceeds 3× the
    * median absolute deviation. Medians are LOWER medians (the
    * ⌈n/2⌉-th order statistic) — an element of the data, no
    * interpolation — so every comparison is on exact doubles and both
    * engines agree bit-for-bit.
    *
    * Exact medians cost one per-group sort each (two total). That is
    * the honest price of rank statistics at any scale: the window
    * partitions on event_type so each group sorts independently, and
    * the two tiny median tables broadcast back onto the fact. The
    * O(1)-memory alternative when exactness isn't required is
    * q_agg_sketch_quantile.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §2.4): fused-window form. The previous shape computed
    // each median in its own subtree and broadcast-joined it back, so
    // the plan scanned events THREE times (med input, dev for mad, dev
    // for output) and built two broadcasts; every windowed frame here
    // partitions on the same event_type key, so the whole query now
    // runs off ONE scan and ONE exchange (plus the final presentation
    // sort) — the two per-group sorts (by value, then by dev) remain,
    // as they must: exact rank statistics are the declared contract.
    // Value-identical to the join form on EVERY input, oracle-mirrored:
    //  - med/mad extraction: exactly one row per group has rn = ⌈n/2⌉,
    //    so max(when(rn = k, v)) over the group IS that order statistic
    //    (ties in the sort carry equal values, so the k-th VALUE is
    //    tie-order invariant);
    //  - the old med/mad joins were INNER on event_type, silently
    //    dropping null-type rows; the fused form states that drop as an
    //    explicit filter (the oracle's JOIN ... USING does the same).
    val byType = Window.partitionBy(col("event_type"))
    val w1 = byType.orderBy(col("value"))
    val w2 = byType.orderBy(col("dev"))
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .where(col("event_type").isNotNull)
      .withColumn("rn", row_number().over(w1))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1) div 2"), col("value"))).over(byType))
      .withColumn("dev", abs(col("value") - col("med")))
      .withColumn("rn2", row_number().over(w2))
      .withColumn("mad",
        max(when(col("rn2") === expr("(n + 1) div 2"), col("dev"))).over(byType))
      .where(col("mad") > 0 && col("dev") > lit(3.0) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"), col("med"), col("mad"))
      .orderBy("event_id")
  }

  /** 2-D grid-binned distance self-join: pairs of parts within one
    * size unit AND ten price units of each other, counted per brand —
    * the spatial-join shape (points within radius r) that generalizes
    * q_join_range_bin to two dimensions. Each part hashes to one
    * (size, price÷10) grid cell; the probe side explodes to its 3×3
    * neighbor cells, so candidate generation is a plain shuffled EQUI
    * join on the cell key (9× one side, never the quadratic
    * theta-join nested loop) and each true pair meets exactly once
    * (the build row has exactly one cell). Exact band predicates +
    * a < b ordering filter after the hash join.
    */
  def joinGrid2d(s: SparkSession, dir: String): DataFrame =
    gridImpl(Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice")))
      .orderBy("p_brand")

  /** Parameterized core shared with ScaleRehearsal (grid2d_inflated)
    * so the rehearsal measures THIS dataflow, not a copy.
    */
  private[graft] def gridImpl(part: DataFrame): DataFrame = {
    val build = part
      .withColumn("cs", col("p_size"))
      .withColumn("cp", floor(col("p_retailprice") / 10.0))
    val probe = part.toDF(part.columns.map(_ + "_a"): _*)
      .withColumn("cs", explode(array(col("p_size_a") - 1, col("p_size_a"), col("p_size_a") + 1)))
      .withColumn("cp0", floor(col("p_retailprice_a") / 10.0))
      .withColumn("cp", explode(array(col("cp0") - 1, col("cp0"), col("cp0") + 1)))
    probe.join(build, Seq("cs", "cp"))
      .where(col("p_partkey_a") < col("p_partkey") &&
        abs(col("p_size_a") - col("p_size")) <= 1 &&
        abs(col("p_retailprice_a") - col("p_retailprice")) <= 10.0)
      .groupBy(col("p_brand_a").as("p_brand"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact distinct users per event type via the mergeable bitmap
    * aggregator ([[graft.functions.BitmapDistinct]]): one partial+final
    * agg whose per-group state is a bitset over the id space — exact
    * like count(DISTINCT) but with an idempotent OR-merge (duplicate
    * delivery and retries are harmless) and NO per-row hash-set churn.
    * The oracle is simply count(DISTINCT user_id): two different
    * mechanisms, one exact answer.
    */
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val bm = udaf(new graft.functions.BitmapDistinct)
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(bm(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Rolling 5-row regression slope of order total vs. order date per
    * customer — trend detection over a bounded trailing window. The
    * five regression moments are EXACT window sums (integer day-x,
    * DECIMAL(18,2) y), one window exchange on the customer partition;
    * only the final slope formula runs in float64 (mirrored op order,
    * floor(x·1e9+0.5)/1e9 quantization — see below; note this rounds a
    * NEGATIVE exact-tie slope toward +inf where HALF_UP would round
    * away from zero, a deliberate change both engines share, so oracles
    * are unaffected). Degenerate windows (fewer than 3
    * rows, or all same-day → zero x-variance) yield NULL on both
    * engines rather than an engine-specific Inf/NaN.
    *
    * Presentation quantization is `floor(slope·1e9 + 0.5)/1e9` — IEEE
    * ops only, bit-identical on any engine — NOT a decimal(18,9) cast:
    * Spark casts double→decimal through the SHORTEST decimal string
    * (HALF_UP on that string) while DuckDB rounds the BINARY value, so
    * a slope whose shortest repr ends exactly on the tie digit
    * (…9925 → Spark …993, DuckDB …992) diverges. One such row exists
    * at sf0.1 (caught by the r7 full-oracle sweep); the floor form has
    * no string/decimal semantics to disagree about.
    */
  def winRollingSlope(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).as("x"),
        dec(col("o_totalprice")).as("y"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-4, Window.currentRow)
    val num = col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val den = col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    o.withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast("long")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x").cast("long") * col("x")).over(w))
      .select(col("o_orderkey"), col("o_custkey"), col("n"),
        when(col("n") >= 3 && den =!= 0.0,
          floor((num / den) * lit(1e9) + lit(0.5)).cast("double") / lit(1e9))
          .as("slope"))
      .orderBy("o_orderkey")
  }

  /** Shannon entropy of each language's token distribution — corpus
    * diversity/degeneracy scoring (a collapsed or boilerplate shard
    * shows low entropy). p·ln(p) terms are computed in float64 with
    * identical op order and rounded to DECIMAL(18,9) before the sum,
    * so the per-language reduction is exact and associative. Two
    * combinable exchanges ((lang, tok) then lang); per-language
    * totals are a tiny broadcast back onto the token counts.
    */
  def aggEntropy(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      // r22: codegen tokenizer — see collocations' note (array_remove ≡
      // the t != '' lambda on null-free split output, inside codegen)
      .select(col("lang"), explode(expr("array_remove(split(text, ' '), '')")).as("tok"))
    val cnt = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"))
    cnt.join(broadcast(tot), "lang")
      .withColumn("p", col("cnt").cast("double") / col("n_tokens").cast("double"))
      .withColumn("term", (-(col("p") * log(col("p")))).cast("decimal(18,9)"))
      .groupBy(col("lang"))
      .agg(max(col("n_tokens")).as("n_tokens"), max(col("n_types")).as("n_types"),
        dbl(sum(col("term"))).as("entropy"))
      .orderBy("lang")
  }

  /** Gini coefficient of order-value concentration per market segment
    * — the inequality/skew audit (is 80% of revenue in 1% of
    * orders?). Uses the rank formula G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx)
    * over ascending totals: one shuffle join to the segment dim, one
    * per-segment sort window for ranks, exact DECIMAL rank-weighted
    * sums (rank ties carry equal x, so Σi·xᵢ is tie-order invariant
    * and the result engine-deterministic), float64 only in the final
    * mirrored formula.
    */
  def aggGini(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(s, dir)
      .join(seg, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), dec(col("o_totalprice")).as("x"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("x"), col("o_orderkey"))
    val g = o.withColumn("i", row_number().over(w))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i").cast("long") * col("x")).as("sixi"))
    g.select(col("c_mktsegment"), col("n"),
      // zero-mass guard (the corr/zscore/slope family discipline): a
      // segment whose totals sum to EXACTLY zero (a refunded batch, a
      // zero-placeholder regen) zeroes the n·Σx denominator and ANSI
      // [DIVIDE_BY_ZERO] kills the whole query on one degenerate
      // group. Gini of a zero-mass distribution is undefined — NULL
      // (an all-NULL group already flows to NULL through the sums).
      // Constant-true on real segments; oracle CASE mirrored.
      when(col("sx") =!= 0,
        ((lit(2.0) * col("sixi").cast("double") - (col("n") + 1) * col("sx").cast("double")) /
          (col("n") * col("sx").cast("double"))).cast("decimal(9,6)").cast("double"))
        .as("gini"))
      .orderBy("c_mktsegment")
  }

  /** Fuzzy near-dup verification by edit distance inside (lang,
    * n_chars) bands — the candidate-generate/verify pattern: banding
    * gives a plain equi join (each doc probes its own and adjacent
    * length buckets, the same trick as the MinHash/cluster operators),
    * and the quadratic-cost levenshtein runs ONLY on banded
    * candidates, never all pairs. Engine-parity caveat (r20, measured):
    * Spark's levenshtein is CODE-POINT-based while DuckDB's is
    * BYTE-based ('café'↔'cafe' = 1 vs 2; one emoji ↔ 'x' = 1 vs 4), so
    * the exact-integer agreement holds only on ASCII text — the whole
    * fixture at every SF (strlen = length verified); Spark's
    * code-point distance is the documented contract, and a non-ASCII
    * regen fails the hash gate loudly rather than hashing green.
    * The report is the 20 MOST similar pairs (threshold-free — a fixed
    * cutoff is corpus-dependent and can go empty), totally ordered by
    * (dist, doc_a, doc_b) → TakeOrderedAndProject.
    *
    * EXPLICIT BOUND: doc_id < 1000 on both sides — edit distance is
    * O(len²) per pair, and the bound keeps the verified set
    * bench-stable at every SF (same discipline as q_dedup_clusters).
    */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      // text.isNotNull: levenshtein(NULL, ·) = NULL and the ASC
      // ranking puts NULLS FIRST (Spark) — one null-text doc with real
      // n_chars metadata would crowd the top-20 head with meaningless
      // pairs (and DuckDB orders NULLS LAST: an engine divergence).
      // n_chars <= 10000: the DP is O(na·nb) PER CANDIDATE PAIR, so
      // two equal-length mega-docs (the 200k single-token class) turn
      // single tasks into multi-minute stalls at any scale — edit
      // distance is only a meaningful near-dup signal for short docs;
      // longer ones belong to the minhash/simhash families. The cap
      // keys on the same trusted n_chars column the band join already
      // buckets on — AND on length(text), because n_chars is
      // METADATA: two mega-docs whose n_chars understates the real
      // text length (the inverse of the null-text/real-n_chars
      // mismatch) would still band together and run the quadratic DP
      // in one task. The exact length costs one pass over
      // already-scanned text. All guards are constant-true on the
      // real fixture (n_chars <= 577, no null text) and mirrored in
      // the oracle. Measured redundancy (r20 ratchet re-kill): the
      // exact length cap ALSO drops null text (length(NULL) is NULL),
      // so the isNotNull-drop mutant is now equivalent — the corrupt-
      // band probe holds the exclusion CONTRACT itself, whichever
      // layer a refactor removes; n_chars stays as the cheap metadata
      // pre-prune, length(text) as the exact backstop.
      .where(col("doc_id") < 1000 && col("text").isNotNull &&
        col("n_chars") <= 10000 && length(col("text")) <= 10000)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val probe = d.toDF(d.columns.map(_ + "_a"): _*)
      .withColumn("bucket", explode(array(col("n_chars_a") - 1, col("n_chars_a"), col("n_chars_a") + 1)))
      .withColumnRenamed("lang_a", "lang")
    val build = d.withColumn("bucket", col("n_chars"))
    probe.join(build, Seq("lang", "bucket"))
      .where(col("doc_id_a") < col("doc_id") &&
        abs(col("n_chars_a") - col("n_chars")) <= 1)
      .select(col("doc_id_a").as("doc_a"), col("doc_id").as("doc_b"), col("lang"),
        levenshtein(col("text_a"), col("text")).as("edit_dist"))
      .orderBy(col("edit_dist"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Batch sessionization: split each user's event stream into
    * sessions at >30-minute silences (the gaps-and-islands break
    * trick on integer epoch-micro gaps — no interval arithmetic, so
    * the break predicate is engine-exact), then one
    * map-side-combinable per-session aggregate. ONE window exchange
    * on user_id serves both the break flag and the running session
    * id; the streaming twin with watermarked state is
    * q_stream_session / q_stream_session_custom.
    */
  def winSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) <= 1800000000L, 0L).otherwise(1L))
      .withColumn("session_id", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** 7-day rolling distinct active users per day WITHOUT a self-join:
    * collapse to distinct (user, day) once, then each user-day
    * contributes presence to the ≤7 window-end days it can influence
    * (a bounded map-side explode), and one distinct-count per end day
    * finishes. The naive formulation joins the fact table to a
    * calendar range per day — quadratic re-scanning at corpus scale;
    * this shape is two combinable exchanges and a ×7 row expansion,
    * the standard scalable rolling-distinct plan. Report only days
    * that actually occur (trailing phantom days are dropped by a semi
    * join against the observed-day set).
    */
  def winRollingDau(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(date_trunc("DAY", col("ts")).as("day"), col("user_id"))
      .distinct()
    val expanded = ud.select(
      explode(sequence(col("day"), col("day") + expr("interval 6 days"),
        expr("interval 1 day"))).as("day"),
      col("user_id"))
    expanded
      .join(ud.select("day").distinct(), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau7"))
      .orderBy("day")
  }

  /** Running distinct count per user (event types seen so far, at
    * every event): windows can't nest COUNT(DISTINCT), so the
    * scalable formulation is the FIRST-OCCURRENCE FLAG trick — mark
    * each (user, type)'s first row with row_number()==1, then a
    * running sum of flags over the user timeline. Two window
    * exchanges on bounded entity partitions; no per-row distinct
    * state anywhere. The same flag trick is how cumulative-unique
    * dashboards scale at 100 TB.
    */
  def winRunningDistinct(s: SparkSession, dir: String): DataFrame = {
    val firstW = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val cumW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("is_new",
        when(row_number().over(firstW) === 1, 1L).otherwise(0L))
      .withColumn("n_types_seen", sum(col("is_new")).over(cumW))
      .select(col("event_id"), col("user_id"), col("event_type"), col("n_types_seen"))
      .orderBy("event_id")
  }

  /** Two-level HLL rollup: per-(type, day) register sketches unioned
    * up to per-type estimates WITHOUT re-reading raw events — the
    * materialized-view re-aggregation story ([[graft.functions
    * .HllRegisters]]/[[graft.functions.HllUnion]]). Emits the
    * re-aggregated estimate next to the direct one-level estimate and
    * the exact count: the first two are BIT-EQUAL (register max-merge
    * is associative), which FrontierSpec asserts. No oracle — the
    * 64-bit wrapping hash isn't DuckDB-expressible (same declaration
    * as q_agg_approx_hll/q_agg_hll_custom); driver records the
    * rows-only check.
    */
  def aggHllUnion(s: SparkSession, dir: String): DataFrame = {
    val regs = udaf(new graft.functions.HllRegisters)
    val uni = udaf(new graft.functions.HllUnion)
    val hll = udaf(new graft.functions.HllSketch)
    val ev = Tables.events(s, dir)
    val daily = ev.groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(regs(col("user_id")).as("r"))
    val two = daily.groupBy(col("event_type")).agg(uni(col("r")).as("est_reagg"))
    val one = ev.groupBy(col("event_type"))
      .agg(hll(col("user_id")).as("est_direct"),
        countDistinct(col("user_id")).as("exact_d"))
    two.join(one, "event_type")
      .select(col("event_type"), col("est_reagg"), col("est_direct"), col("exact_d"))
      .orderBy("event_type")
  }

  /** Market-basket lift: part pairs co-purchased more than their
    * individual popularities predict — lift(a,b) =
    * P(ab)/(P(a)·P(b)) over order baskets, the association-rule
    * counterpart of q_text_collocations' PMI (same ratio, basket
    * probability space, no logarithm). Pair generation is the basket
    * self-join on the order key (baskets are bounded, so the blowup
    * is per-basket C(k,2), never corpus-quadratic), counts are
    * combinable aggregates, the 1-row basket total broadcasts, and
    * the report is a threshold-free top-20 (a fixed support floor is
    * corpus-dependent; production adds one as a knob) with a total
    * (lift, pa, pb) order.
    */
  def basketLift(s: SparkSession, dir: String): DataFrame =
    basketImpl(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")))
      .select(col("pa"), col("pb"), col("ab"), col("lift"))
      .orderBy(desc("lift"), asc("pa"), asc("pb"))
      .limit(20)

  /** Parameterized core shared with ScaleRehearsal (basket_inflated)
    * so the rehearsal measures THIS dataflow, not a copy. `items` is
    * any (l_orderkey, l_partkey) basket-membership frame.
    */
  private[graft] def basketImpl(items: DataFrame): DataFrame = {
    // NOT checkpointed although four consumers read it: the distinct's
    // exchange is reused by Spark where the subtrees match, and a
    // measured localCheckpoint here made the query ~2x SLOWER cold
    // (the eager materialization job costs more than the recompute)
    val li = items.distinct()
    val nOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val singles = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    li.as("a").join(li.as("b"), Seq("l_orderkey"))
      .where(col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .agg(count(lit(1)).as("ab"))
      .join(singles.select(col("l_partkey").as("pa"), col("cnt").as("ca")), "pa")
      .join(singles.select(col("l_partkey").as("pb"), col("cnt").as("cb")), "pb")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift",
        ((col("ab").cast("double") * col("n_orders").cast("double")) /
          (col("ca").cast("double") * col("cb").cast("double")))
          .cast("decimal(12,6)").cast("double"))
  }

  /** Interval×interval OVERLAP join — the genuinely-hard range-join
    * variant (q_join_interval is point-in-window; q_join_range_bin is
    * point×point): price-span intervals [p_retailprice,
    * p_retailprice + p_size] of Brand#1x parts overlapped against
    * Brand#2x parts, counted per brand pair.
    *
    * r19 REWRITE — order statistics instead of pair enumeration. The
    * r6 banded join (bin width ≥ max interval length, ≤2 bins per
    * interval, two equi passes) was near-optimal while overlaps were
    * sparse, but its cost is Ω(true pairs): when the r19 fixture regen
    * collapsed p_retailprice from a ~1200-wide domain to [900, 1000),
    * EVERY part landed in two 50-wide bins and ~half of all
    * cross-brand pairs truly overlap — the per-bin product hit ~50 M
    * candidate rows at sf0.1 (measured 27-70 s, 10-25× the old band).
    * No enumeration fixes that: dense-overlap data makes the PAIR
    * RELATION itself quadratic. The ANSWER, though, is only a count
    * per brand pair, and closed-interval overlap counts decompose into
    * two rank queries (with lo ≤ hi per row, hi_b < lo_a implies
    * lo_b ≤ hi_a, so the second set is a subset of the first):
    *
    *   n(a, B) = #{b∈B: lo_b ≤ hi_a} − #{b∈B: hi_b < lo_a}
    *
    * Each term is computed with quantile-balanced buckets
    * (percentile_approx boundaries — balance affects only speed, never
    * correctness), a tiny broadcast prefix table for whole buckets
    * before the probe's, and a within-bucket cumulative-count window
    * whose tie order encodes ≤ vs < exactly. Work is O(n log n)
    * REGARDLESS of overlap density — the 100 TB answer for dense
    * interval data; at larger scale raise NQ so window partitions stay
    * bounded. The only non-equi join is the documented 1-row-broadcast
    * scalar-frame class (the collected bounds row that fans probes out
    * per B-brand — bounded by the brand count).
    */
  def joinIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    intervalOverlapImpl(p, p)
  }

  /** Parameterized core shared with ScaleRehearsal
    * (interval_overlap_inflated) so the rehearsal measures THIS
    * dataflow, not a copy. `partA` feeds the Brand#1 side, `partB` the
    * Brand#2 side — the rehearsal inflates only one side so the output
    * counts grow ×K (each clone meets the same partners).
    */
  private[graft] def intervalOverlapImpl(partA: DataFrame, partB: DataFrame): DataFrame = {
    val nq = 64 // quantile buckets; raise with data volume (window partitions are ~|points|/nq)
    def side(src: DataFrame, prefix: String): DataFrame =
      src
        // overlap needs BOTH bounds: a null-priced/sized row has no
        // interval (matches the oracle's null-rejecting theta join).
        // NaN must be rejected too — every theta COMPARISON on NaN is
        // false (both engines), but the rank machinery counts points
        // POSITIONALLY: a NaN point sorts last within its bucket (never
        // counted there) yet still lands in the bucket-prefix totals,
        // so probes in LATER buckets would silently overcount it. ±Inf
        // needs no guard: its sort position and its comparisons agree
        // at both extremes. An INVERTED row (negative p_size => hi < lo)
        // is an EMPTY interval and overlaps nothing: the subset identity
        // n = #{lo_b <= hi_a} - #{hi_b < lo_a} requires lo <= hi on BOTH
        // sides — unfiltered, an inverted row contributes NEGATIVE
        // counts (points inside its (hi, lo) gap land in the subtracted
        // term only), silently deflating its brand pair's totals. The
        // oracle mirrors the p_size >= 0 contract.
        .where(col("p_brand").startsWith(prefix) &&
          col("p_retailprice").isNotNull && col("p_size").isNotNull &&
          !isnan(col("p_retailprice")) && col("p_size") >= 0)
        .select(col("p_brand").as("brand"),
          col("p_retailprice").as("lo"),
          (col("p_retailprice") + col("p_size")).as("hi"))
    // r21 measured NEGATIVE (same-window A/B, OPTIMIZATION_r21.md): the
    // plan re-scans part.parquet 7× (each rank-count term reads its
    // point side 3× and probe side once, with different projections),
    // and localCheckpoint'ing the two brand sides collapses that to 2
    // materializations — but measured 2.6-3.1 s vs 2.0-2.5 s steady at
    // sf0.1: the eager checkpoint jobs + row-format re-reads cost more
    // than 7 pushed-down columnar scans of a small file (the same
    // verdict as basket_lift's r6 checkpoint A/B). At 100 TB the
    // trade flips only if the brand slices stay small while the table
    // grows — then materialize the `side()` frames once.
    val a = side(partA, "Brand#1")
    val b = side(partB, "Brand#2")

    /** Σ over probes, grouped by (brand_a, g), of the per-probe rank
      * count — #{points in g with v ≤ x} (strict=false) or v < x
      * (strict=true). Points: (g, v); probes: (brand_a, x).
      */
    def rankSums(points: DataFrame, probes: DataFrame, strict: Boolean): DataFrame = {
      val qs = (1 until nq).map(i => i.toDouble / nq).mkString("array(", ", ", ")")
      val bounds = points.groupBy(col("g"))
        .agg(expr(s"percentile_approx(v, $qs, 100)").as("bs"))
      // r21: binary search (codegen LowerBoundCount) instead of the
      // interpreted HOF `size(filter(bs, e -> v > e))` — O(log nq)
      // compares with no per-row array allocation vs O(nq) lambda
      // evals outside codegen. Sound because percentile_approx bounds
      // are non-decreasing; equivalence on the full edge domain
      // (duplicate bounds, probe==bound, NaN, ±Inf, empty) is pinned
      // by BoundsExprSpec. Any monotone bucket assignment is
      // correctness-neutral here — only balance changes.
      def bucket(v: String): Column = expr(s"lb_count(bs, $v)")
      val pts = points.join(broadcast(bounds), "g")
        .select(col("g"), bucket("v").as("bucket"), col("v"),
          lit(1L).as("is_pt"), lit(null).cast("string").as("brand_a"))
      // fan each probe out once per B-brand: ONE collected bounds row
      // (≤ brand-count structs) rides a 1-row broadcast + explode —
      // the documented scalar-frame BNLJ class, never a real cartesian
      val gset = bounds.agg(collect_list(struct(col("g"), col("bs"))).as("gb"))
      val prb = probes.crossJoin(broadcast(gset))
        .select(col("brand_a"), col("x"), explode(col("gb")).as("g_bs"))
        .select(col("g_bs.g").as("g"), col("g_bs").getField("bs").as("bs"),
          col("x"), col("brand_a"))
        .select(col("g"), bucket("x").as("bucket"), col("x").as("v"),
          lit(0L).as("is_pt"), col("brand_a"))
      // whole buckets strictly before the probe's: tiny per-(g, bucket)
      // prefix table over the FULL 0..nq-1 domain (a probe can land in
      // a bucket holding no points), broadcast to the probe rows
      val perBucket = pts.groupBy(col("g"), col("bucket")).agg(count(lit(1)).as("c"))
      val prefix = points.select(col("g")).distinct()
        .select(col("g"), explode(expr(s"sequence(0, ${nq - 1})")).as("bucket"))
        .join(perBucket, Seq("g", "bucket"), "left")
        .select(col("g"), col("bucket"),
          (sum(coalesce(col("c"), lit(0L)))
            .over(Window.partitionBy(col("g")).orderBy(col("bucket")))
            - coalesce(col("c"), lit(0L))).as("before"))
      // within-bucket rank via ONE cumulative window; the tie order IS
      // the comparison semantics: points-first at equal v counts ties
      // (≤), probes-first excludes them (<). Probe-probe and
      // point-point tie order never changes a probe's count.
      val ord =
        if (strict) Seq(col("v").asc, col("is_pt").asc)
        else Seq(col("v").asc, col("is_pt").desc)
      val w = Window.partitionBy(col("g"), col("bucket")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.unionByName(prb)
        .withColumn("cnt", sum(col("is_pt")).over(w))
        .where(col("is_pt") === 0L)
        .join(broadcast(prefix), Seq("g", "bucket"))
        .groupBy(col("brand_a"), col("g"))
        .agg(sum(col("cnt") + col("before")).as("s"))
    }

    val t1 = rankSums(
      b.select(col("brand").as("g"), col("lo").as("v")),
      a.select(col("brand").as("brand_a"), col("hi").as("x")),
      strict = false).withColumnRenamed("s", "s1")
    val t2 = rankSums(
      b.select(col("brand").as("g"), col("hi").as("v")),
      a.select(col("brand").as("brand_a"), col("lo").as("x")),
      strict = true).withColumnRenamed("s", "s2")
    // both terms cover the identical (brand_a, g) probe×brand domain
    // (same probe set, same point brands), so the inner join is total
    t1.join(t2, Seq("brand_a", "g"))
      .select(col("brand_a"), col("g").as("brand_b"),
        (col("s1") - col("s2")).as("n_overlaps"))
      .where(col("n_overlaps") > 0)
      .orderBy("brand_a", "brand_b")
  }

  /** Time-series gap fill by LINEAR INTERPOLATION — the harder sibling
    * of q_ts_resample's forward fill: missing days take
    * prev + (next−prev)·(elapsed/gap) between the surrounding
    * observations (edges fall back to the nearest observed value).
    * Four bounded window passes on the user partition (last/next
    * observed value and day, via ignore-nulls last/first); the
    * interpolation arithmetic is integer day-distances and one
    * mirrored float64 expression rounded to DECIMAL(18,6). Same
    * scale shape as resample: calendar rows O(user-span days),
    * everything inside one entity partition.
    */
  def tsInterpolate(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .agg(dbl(sum(dec(col("value")))).as("day_sum"))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val dense = cal.join(daily, Seq("user_id", "day"), "left")
    val past = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val future = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("day_sum").isNotNull, col("day"))
    val withEnds = dense
      .withColumn("pv", last(col("day_sum"), ignoreNulls = true).over(past))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(past))
      .withColumn("nv", first(col("day_sum"), ignoreNulls = true).over(future))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(future))
    val interp = col("pv") +
      (col("nv") - col("pv")) *
        (datediff(col("day"), col("pd")).cast("double") /
          datediff(col("nd"), col("pd")).cast("double"))
    withEnds.select(col("user_id"), col("day"), col("day_sum"),
      when(col("day_sum").isNotNull, col("day_sum"))
        .when(col("pv").isNotNull && col("nv").isNotNull, interp)
        .otherwise(coalesce(col("pv"), col("nv")))
        .cast("decimal(18,6)").cast("double").as("filled"))
      .orderBy("user_id", "day")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ts_interpolate" -> tsInterpolate,
    "q_join_interval_overlap" -> joinIntervalOverlap,
    "q_basket_lift" -> basketLift,
    "q_agg_hll_union" -> aggHllUnion,
    "q_win_running_distinct" -> winRunningDistinct,
    "q_win_sessionize" -> winSessionize,
    "q_win_rolling_dau" -> winRollingDau,
    "q_win_rolling_slope" -> winRollingSlope,
    "q_agg_entropy" -> aggEntropy,
    "q_agg_gini" -> aggGini,
    "q_dedup_edit_distance" -> dedupEditDistance,
    "q_agg_bitmap_distinct" -> aggBitmapDistinct,
    "q_skyline" -> skyline,
    "q_agg_mode" -> aggMode,
    "q_text_collocations" -> collocations,
    "q_agg_countmin" -> aggCountmin,
    "q_agg_corr" -> aggCorr,
    "q_anomaly_mad" -> anomalyMad,
    "q_join_grid_2d" -> joinGrid2d)

  val oracle: Map[String, String] = Map(
    "q_ts_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_sum
        |  FROM events GROUP BY 1, 2),
        |cal AS (
        |  SELECT user_id, unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
        |  FROM daily GROUP BY user_id),
        |dense AS (
        |  SELECT c.user_id, c.day, d.day_sum
        |  FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day),
        |ends AS (
        |  SELECT user_id, day, day_sum,
        |    last_value(day_sum IGNORE NULLS) OVER past AS pv,
        |    last_value(CASE WHEN day_sum IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER past AS pd,
        |    first_value(day_sum IGNORE NULLS) OVER future AS nv,
        |    first_value(CASE WHEN day_sum IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER future AS nd
        |  FROM dense
        |  WINDOW past AS (PARTITION BY user_id ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    future AS (PARTITION BY user_id ORDER BY day
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, day_sum,
        |  CAST(CAST(CASE
        |    WHEN day_sum IS NOT NULL THEN day_sum
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
        |                        / CAST(date_diff('day', pd, nd) AS DOUBLE))
        |    ELSE coalesce(pv, nv) END AS DECIMAL(18,6)) AS DOUBLE) AS filled
        |FROM ends ORDER BY user_id, day""".stripMargin,
    "q_join_interval_overlap" ->
      """WITH a AS (
        |  SELECT p_partkey, p_brand, p_retailprice AS lo,
        |    p_retailprice + p_size AS hi
        |  FROM part WHERE p_brand LIKE 'Brand#1%' AND p_size >= 0),
        |b AS (
        |  SELECT p_partkey, p_brand, p_retailprice AS lo,
        |    p_retailprice + p_size AS hi
        |  FROM part WHERE p_brand LIKE 'Brand#2%' AND p_size >= 0)
        |SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |  count(*) AS n_overlaps
        |FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
        |GROUP BY a.p_brand, b.p_brand
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        |s AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY l_partkey),
        |p AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT pa, pb, ab,
        |  CAST(CAST(
        |    (CAST(ab AS DOUBLE) * CAST(n_orders AS DOUBLE))
        |    / (CAST(sa.cnt AS DOUBLE) * CAST(sb.cnt AS DOUBLE))
        |  AS DECIMAL(12,6)) AS DOUBLE) AS lift
        |FROM p
        |JOIN s sa ON p.pa = sa.l_partkey
        |JOIN s sb ON p.pb = sb.l_partkey
        |CROSS JOIN n
        |ORDER BY lift DESC, pa, pb
        |LIMIT 20""".stripMargin,
    "q_win_running_distinct" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts, event_id) = 1
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e)
        |SELECT event_id, user_id, event_type,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_seen
        |FROM f ORDER BY event_id""".stripMargin,
    "q_win_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |b AS (
        |  SELECT user_id, event_id, ts, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              <= 1800000000 THEN 0 ELSE 1 END AS brk
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts, us,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS sess_start,
        |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_win_rolling_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
        |  FROM events),
        |ex AS (
        |  SELECT ud.day + (o.i * INTERVAL 1 DAY) AS day, ud.user_id
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) o),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT e.day, count(DISTINCT e.user_id) AS dau7
        |FROM ex e JOIN days d USING (day)
        |GROUP BY e.day ORDER BY day""".stripMargin,
    "q_win_rolling_slope" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS x,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders),
        |m AS (
        |  SELECT o_orderkey, o_custkey,
        |    count(*) OVER w AS n,
        |    sum(CAST(x AS BIGINT)) OVER w AS sx,
        |    sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(CAST(x AS BIGINT) * x) OVER w AS sxx
        |  FROM o
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_custkey, n,
        |  CASE WHEN n >= 3
        |        AND (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
        |    THEN floor(
        |      (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * 1e9 + 0.5) / 1e9
        |    ELSE NULL END AS slope
        |FROM m ORDER BY o_orderkey""".stripMargin,
    "q_agg_entropy" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok),
        |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_types
        |      FROM c GROUP BY lang)
        |SELECT c.lang, max(t.n_tokens) AS n_tokens, max(t.n_types) AS n_types,
        |  CAST(sum(CAST(-((CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |        * ln(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))) AS DECIMAL(18,9)))
        |    AS DOUBLE) AS entropy
        |FROM c JOIN t USING (lang)
        |GROUP BY c.lang ORDER BY c.lang""".stripMargin,
    "q_agg_gini" ->
      """WITH o AS (
        |  SELECT c.c_mktsegment, x.o_orderkey,
        |    CAST(x.o_totalprice AS DECIMAL(18,2)) AS x
        |  FROM orders x JOIN customer c ON x.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, x, o_orderkey,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY x, o_orderkey) AS i
        |  FROM o),
        |g AS (
        |  SELECT c_mktsegment, count(*) AS n, sum(x) AS sx,
        |    sum(CAST(i AS BIGINT) * x) AS sixi
        |  FROM r GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n,
        |  CASE WHEN sx <> 0 THEN CAST(CAST(
        |    (2.0 * CAST(sixi AS DOUBLE) - (n + 1) * CAST(sx AS DOUBLE))
        |    / (n * CAST(sx AS DOUBLE)) AS DECIMAL(9,6)) AS DOUBLE)
        |  ELSE NULL END AS gini
        |FROM g ORDER BY c_mktsegment""".stripMargin,
    "q_dedup_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
        |  CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        | AND abs(a.n_chars - b.n_chars) <= 1
        |WHERE a.doc_id < 1000 AND b.doc_id < 1000
        |  AND a.text IS NOT NULL AND b.text IS NOT NULL
        |  AND a.n_chars <= 10000 AND b.n_chars <= 10000
        |  AND length(a.text) <= 10000 AND length(b.text) <= 10000
        |ORDER BY edit_dist, doc_a, doc_b
        |LIMIT 20""".stripMargin,
    "q_agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_skyline" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin,
    "q_agg_mode" ->
      """WITH c AS (
        |  SELECT c_mktsegment, c_nationkey, count(*) AS cnt
        |  FROM customer GROUP BY c_mktsegment, c_nationkey),
        |r AS (
        |  SELECT c_mktsegment, c_nationkey, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tot,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY cnt DESC, c_nationkey) AS rn
        |  FROM c)
        |SELECT c_mktsegment, c_nationkey AS mode_nation, cnt AS mode_cnt,
        |  tot AS n_customers
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    "q_text_collocations" ->
      """WITH tk AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |u AS (
        |  SELECT tok, count(*) AS ucnt
        |  FROM (SELECT unnest(ts) AS tok FROM tk) GROUP BY tok),
        |ut AS (SELECT CAST(sum(ucnt) AS DOUBLE) AS t FROM u),
        |bt AS (SELECT CAST(sum(greatest(len(ts) - 1, 0)) AS DOUBLE) AS tb FROM tk),
        |b AS (
        |  SELECT bigram, count(*) AS bcnt
        |  FROM (SELECT unnest(list_transform(range(1, len(ts)),
        |          i -> ts[i] || ' ' || ts[i + 1])) AS bigram FROM tk)
        |  GROUP BY bigram HAVING count(*) >= 3)
        |SELECT bigram, bcnt,
        |  CAST(CAST(ln((CAST(bcnt AS DOUBLE) / tb) /
        |    ((CAST(ux.ucnt AS DOUBLE) / t) * (CAST(uy.ucnt AS DOUBLE) / t)))
        |    AS DECIMAL(18,9)) AS DOUBLE) AS pmi
        |FROM b
        |JOIN u ux ON split_part(bigram, ' ', 1) = ux.tok
        |JOIN u uy ON split_part(bigram, ' ', 2) = uy.tok
        |CROSS JOIN ut CROSS JOIN bt
        |ORDER BY pmi DESC, bigram
        |LIMIT 20""".stripMargin,
    "q_agg_corr" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(CAST((n * sxy - sx * sy)
        |      / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |    AS DECIMAL(9,6)) AS DOUBLE)
        |  ELSE NULL END AS corr_qty_price
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "q_anomaly_mad" ->
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |med AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.value, med.med,
        |    abs(e.value - med.med) AS dev
        |  FROM e JOIN med USING (event_type)),
        |r2 AS (
        |  SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.event_id, d.event_type, d.value, d.med, m.mad
        |FROM d JOIN mad m USING (event_type)
        |WHERE m.mad > 0 AND d.dev > 3.0 * m.mad
        |ORDER BY d.event_id""".stripMargin,
    "q_join_grid_2d" ->
      """SELECT a.p_brand AS p_brand, count(*) AS n_pairs
        |FROM part a JOIN part b
        |  ON a.p_partkey < b.p_partkey
        | AND abs(a.p_size - b.p_size) <= 1
        | AND abs(a.p_retailprice - b.p_retailprice) <= 10.0
        |GROUP BY a.p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_agg_countmin" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
        |h AS (
        |  SELECT user_id, exact_cnt, j,
        |    ((user_id * (CASE j WHEN 0 THEN 48271 WHEN 1 THEN 69621 ELSE 40692 END)
        |      + (CASE j WHEN 0 THEN 11 WHEN 1 THEN 23 ELSE 37 END))
        |     % 1000003) % 256 AS b
        |  FROM c CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
        |bs AS (
        |  SELECT j, b, CAST(sum(exact_cnt) AS BIGINT) AS s
        |  FROM h GROUP BY j, b),
        |est AS (
        |  SELECT user_id, min(s) AS est_cnt FROM h JOIN bs USING (j, b)
        |  GROUP BY user_id)
        |SELECT c.user_id, c.exact_cnt, e.est_cnt
        |FROM c JOIN est e USING (user_id)
        |WHERE c.exact_cnt >= 20
        |ORDER BY user_id""".stripMargin)
}
