package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** §2.9 text-analysis operators for the LLM-data-pipeline surface:
  * exact dedup, tokenization, corpus stats, language ID, quality
  * scoring, fingerprinting, bigram generation, scalar UDF showcase.
  *
  * All tokenization is `split(text, ' ')` — the fixture corpus is
  * clean single-space ASCII (FIXTURES.md). Everything here is a
  * single scan + one aggregation exchange; nothing materializes the
  * corpus on the driver.
  */
object TextOps {

  private val stopEn = Seq("the", "a", "of", "to", "and", "in", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist")
  private val stopEs = Seq("el", "la", "los", "es", "por")
  private val stopFr = Seq("le", "les", "et", "est", "une")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Exact dedup keeping the smallest doc_id per distinct text.
    * `groupBy(text).min(doc_id)` — NOT dropDuplicates, whose keeper is
    * partition-order-dependent and breaks determinism at any scale.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"), length(col("text")).cast("int").as("text_len"))
      .orderBy("keeper_id")

  /** Tokenize → explode → stopword-filter → global top-20 terms.
    * Two-level aggregation (partial per partition, final after one
    * exchange on token) — the scalable word-count shape.
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(!col("tok").isin(stopEn: _*))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok"))
      .limit(20)

  /** Per lang×source corpus stats incl. distinct-token cardinality.
    *
    * Shape note: the naive form (explode + 3 count-distincts in one
    * agg) triggers an Expand that triples the token rows. Instead the
    * doc-level sums are computed arithmetically without exploding
    * (sum over docs of n_chars·n_toks ≡ sum over token rows of
    * n_chars), and only the distinct-token count pays one explode +
    * distinct — measured ~4× cheaper at sf0.1, same values.
    */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_toks_doc", size(split(col("text"), " ")).cast("long"))
    val perGroup = docs.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks_doc")).as("n_toks"),
        sum(col("n_chars") * col("n_toks_doc")).as("chars_x_toks"))
    val distinctToks = docs
      .select(col("lang"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_distinct_toks"))
    perGroup.join(distinctToks, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_distinct_toks"), col("n_toks"),
        dbl((col("chars_x_toks").cast("double") / col("n_toks")).cast("decimal(18,4)"))
          .as("avg_chars_per_tok_row"))
      .orderBy("lang", "source")
  }

  /** Stopword-profile language ID (n-gram-heuristic family): score =
    * stopword-hit ratio per language, argmax with a fixed tie order.
    * The fixture corpus is synthetic English-ish engine vocabulary, so
    * 'en' dominates — the operator shape is what matters.
    */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §4): in_count ≡ size(filter(toks, t -> t IN list)) —
    // TextExpressions.scala scaladoc carries the token-by-token
    // argument, TextExprSpec the adversarial pin. This query ran FOUR
    // interpreted IN-lambdas over every token of every document; each
    // is now one codegen hash-probe pass.
    def ratio(ws: Seq[String]) =
      s"CAST(in_count(toks, array${sqlList(ws)}) AS DOUBLE) / size(toks)"
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("s_en", expr(ratio(stopEn)))
      .withColumn("s_de", expr(ratio(stopDe)))
      .withColumn("s_es", expr(ratio(stopEs)))
      .withColumn("s_fr", expr(ratio(stopFr)))
      .select(
        col("doc_id"), col("lang"),
        // no content = no prediction (the kNN-label discipline on the
        // text axis): a NULL-text doc nulls every score, every >= in
        // the cascade is then false, and the bare otherwise("fr")
        // FABRICATED a language for it — a silent wrong answer feeding
        // corpus routing. The null branch leads in both engines;
        // empty text ties every score at 0 and predicts 'en' by the
        // fixed tie order (documented degenerate, pinned by probe).
        when(col("s_en").isNull, lit(null).cast("string"))
          .when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr")), "en")
          .when(col("s_de") >= greatest(col("s_es"), col("s_fr")), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr").as("pred_lang"),
        dbl(col("s_en").cast("decimal(9,6)")).as("score_en"))
      .orderBy("doc_id")
  }

  /** Quality scoring: token counts (whitespace + BPE-ish regex
    * pieces), average token length, stopword ratio, composite score.
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("int"))
      .withColumn("n_pieces",
        size(regexp_extract_all(col("text"), lit("[^aeiou ]+[aeiou]*|[aeiou]+"), lit(0))).cast("int"))
      .withColumn("stop_ratio",
        expr(s"CAST(in_count(toks, array${sqlList(stopEn)}) AS DOUBLE) / size(toks)"))
      .select(
        col("doc_id"), col("n_toks"), col("n_pieces"),
        // DECIMAL(18,4), not (9,4) (r19 presentation-overflow sweep —
        // the SQ8 class): avg_tok_len is UNBOUNDED in the document, and
        // a single-token blob past ~100 KB (base64, minified JS — routine
        // in web corpora) overflows (9,4) and ANSI-kills the query. The
        // value is legitimate low-quality signal, not garbage, so the
        // honest fix is a wider type (1e14 ≫ any real document), not a
        // try_cast NULL; same rounding, same doubles on clean data.
        dbl(((col("n_chars") - (col("n_toks") - 1)).cast("double") / col("n_toks"))
          .cast("decimal(18,4)")).as("avg_tok_len"),
        dbl(col("stop_ratio").cast("decimal(9,6)")).as("stop_ratio"),
        // quality is a CONTENT score: with NULL text both cast columns
        // above are honest NULL, but the composite's n_chars branch
        // reads METADATA and fabricated 0.5 for a contentless doc — a
        // silent curation signal from no content. NULL text => NULL
        // quality, mirrored in the oracle.
        dbl(when(col("text").isNotNull,
          (when(col("n_chars") >= 100, 0.5).otherwise(0.0)
            + when(col("stop_ratio") > 0, 0.5).otherwise(0.0)).cast("decimal(3,1)")))
          .as("quality"))
      .orderBy("doc_id")
  }

  /** Deterministic document fingerprint: left-fold rolling hash over
    * token features, mod a prime — portable integer arithmetic only
    * (no engine-specific hash functions).
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §4): fp_hash fuses the per-token feature transform and
    // the rolling fold — previously two interpreted lambdas per token —
    // into one codegen pass; ascii/length semantics replayed by making
    // the same calls Spark's own expressions make (code points, probed
    // and spec-pinned on unicode/supplementary/empty/null tokens in
    // TextExprSpec, since the ASCII-only fixture can never exercise
    // the risky branch through the oracle).
    Tables.documents(s, dir)
      .select(col("doc_id"), expr("fp_hash(split(text, ' '))").as("fp"))
      .orderBy("doc_id")
  }

  /** True table function: document → bigram rows via the custom
    * Catalyst Generator (graft.functions.BigramGenerator — emits rows
    * directly, no intermediate array), then global top-20.
    */
  def udtfBigrams(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(expr("bigrams(split(text, ' '))"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(20)
  }

  /** Registered scalar UDF showcase: normalize_text (trim + collapse
    * whitespace + lowercase), kept SQL-replicable by design. The
    * whitespace pattern is compiled ONCE and captured by the closure —
    * `String.replaceAll` recompiles its regex on every call, and this
    * UDF runs twice per row over the full corpus.
    */
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  def udfScalar(s: SparkSession, dir: String): DataFrame = {
    s.udf.register("normalize_text",
      (t: String) => if (t == null) null
      else wsPattern.matcher(t.trim).replaceAll(" ").toLowerCase)
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        expr("normalize_text(concat('  ', upper(text), '   '))").as("norm"),
        length(expr("normalize_text(text)")).cast("int").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Generator with ordinality: posexplode gives (position, token)
    * rows — the indexed-explode shape (restricted to doc_id < 20 to
    * keep the row-level output bounded).
    */
  def explodePos(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("int").as("pos"), col("tok"))
      .orderBy("doc_id", "pos")

  /** Unpivot/melt: wide per-part metrics to long (metric, val) rows.
    * Both value columns are cast to a common exact decimal first.
    */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"),
        dec("p_retailprice").as("retail_price"),
        col("p_size").cast("decimal(18,2)").as("size_dec"))
      .unpivot(Array(col("p_partkey")),
        Array(col("retail_price"), col("size_dec")), "metric", "val")
      .select(col("p_partkey"), col("metric"), dbl(col("val")).as("val"))
      .orderBy("p_partkey", "metric")

  /** TF-IDF term scoring: tf per (doc, token) × ln(N/df). The classic
    * two-aggregation shape — tf is one exchange on (doc, token), df
    * one on token, the corpus size N is a 1-row broadcast. Output
    * bounded to doc_id < 20 for a row-level check.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, tok) already) — no second
    // explode over the corpus and no separate distinct exchange
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(n))
      .where(col("doc_id") < 20)
      .select(col("doc_id"), col("tok"), col("tf"),
        dbl((col("tf").cast("double") * log(col("n_docs") / col("df")))
          .cast("decimal(18,6)")).as("tfidf"))
      .orderBy("doc_id", "tok")
  }

  /** Repetition ratio — the boilerplate/low-diversity quality signal:
    * 1 − |distinct tokens| / |tokens|, computed map-side per doc.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).cast("int").as("n_toks"),
        size(array_distinct(col("toks"))).cast("int").as("n_distinct"),
        dbl((lit(1.0) - size(array_distinct(col("toks"))).cast("double")
          / size(col("toks"))).cast("decimal(9,6)")).as("repetition"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split (80/10/10) by portable integer
    * arithmetic on doc_id — NOT rand() and NOT an engine hash, so the
    * assignment is reproducible across engines, runs and cluster
    * layouts; the map-side projection shape is exactly how corpus
    * splits are done at 100 TB.
    */
  def splitTrainTest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", pmod(col("doc_id") * 48271 + 11, lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
      .orderBy("lang", "split")

  /** End-to-end cleaning pipeline — the composite shape every corpus
    * build runs: length filter → exact dedup (deterministic keeper) →
    * quality gate (≥1 stopword hit) → per-language stats. Each stage
    * is one of the engine's primitives chained lazily, so Catalyst
    * fuses the filters into the scan and the whole pipeline costs two
    * exchanges (dedup groupBy + final groupBy).
    */
  def pipelineClean(s: SparkSession, dir: String): DataFrame = {
    val kept = Tables.documents(s, dir)
      .where(col("n_chars").between(50, 5000))
      .groupBy(col("text"))
      .agg(min(col("lang")).as("lang"))
    kept
      // r22 (guide §4): arrays_overlap ≡ size(filter(arr, t IN list)) > 0
      // row-for-row here — the existence test needs no token counts, split
      // output carries no null elements (so the overlap never hits its
      // null-ambiguity branch), and NULL text maps to NULL → filtered on
      // both forms. ArraysOverlap is codegen; the IN-lambda ran through
      // interpreted Invoke per token in the SCAN filter (the n_chars
      // pushdown put this predicate on every surviving row).
      .where(expr(s"arrays_overlap(split(text, ' '), array${sqlList(stopEn)})"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_len"))
      .orderBy("lang")
  }

  /** §2.13 (round-4) unigram language-model scoring: per-document mean
    * log-probability under the corpus's own unigram distribution — the
    * classic cheap fluency/quality signal (a doc of rare tokens scores
    * low; boilerplate scores high). Two exchanges: token-count agg,
    * then a shuffle join of tokens→counts (the vocabulary is NOT
    * broadcast — at corpus scale it's huge) + per-doc agg. The 1-row
    * corpus total IS broadcast. Each ln() term is computed in float64
    * with identical op order on both engines, then rounded to
    * DECIMAL(18,9) so the per-doc sum is exact and associative —
    * summing raw doubles would be partition-order-dependent.
    */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("double").as("tot"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .withColumn("lp", log(col("cnt").cast("double") / col("tot")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        dbl(sum(col("lp").cast("decimal(18,9)"))).as("slp"))
      .select(col("doc_id"), col("n_toks"), (col("slp") / col("n_toks")).as("lm_score"))
      .orderBy("doc_id")
  }

  /** §2.13 (round-4) inverted index build: term → document-frequency +
    * posting-list head, the core retrieval/decontamination structure
    * (exact-match search, corpus decontamination against benchmark
    * strings, and BM25 all start here).
    *
    * Shape: explode to (doc, term), distinct (per-doc term multiplicity
    * collapses map-side via the partial HashAggregate), then ONE
    * exchange on term building df/min/max and the sorted posting head
    * in the same aggregate. The head is capped at 20 ids — at corpus
    * scale a full posting list for a stopword-grade term is millions of
    * entries, and the cap keeps the materialized row bounded while df
    * still reports the true list length (the full list would be written
    * to a posting store, not returned to a driver). collect_list order
    * is partition-dependent, so the head sorts BEFORE slicing —
    * deterministic on any executor count.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "")
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        expr("array_join(transform(slice(array_sort(collect_list(doc_id)), 1, 20)," +
          " x -> CAST(x AS STRING)), ',')").as("postings_head"))
      .orderBy("term")

  /** §2.13 (round-4) BM25 retrieval: rank the whole corpus for a fixed
    * query-term set — the scoring layer above the inverted index
    * (q_text_inverted_index) and the standard lexical-retrieval /
    * decontamination ranker. k1=1.2, b=0.75, idf = ln(1 + (N−df+0.5)/
    * (df+0.5)) (the Lucene non-negative form).
    *
    * Dataflow: per-doc length from the full token stream (one exchange
    * on doc_id), tf restricted to the query terms BEFORE aggregating —
    * the isin filter prunes the token stream map-side, so the tf
    * exchange carries only query-term hits (at corpus scale: |q| terms,
    * not |vocab|). df is |q| rows and the corpus stats 1 row — both
    * broadcast; the tf⋈dl join shuffles on doc_id once. Determinism:
    * each per-term contribution is one float64 expression with
    * identical op order on both engines, rounded to DECIMAL(18,9) so
    * the per-doc sum is exact and associative on any partition layout.
    */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("join", "filter", "scan")
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok") =!= "")
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = toks.where(col("tok").isin(qterms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("c",
        (col("idf") * ((col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2)
            * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
          .cast("decimal(18,9)"))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("n_hits"),
        dbl(sum(col("c"))).as("bm25"))
      .orderBy(desc("bm25"), asc("doc_id"))
  }

  /** §2.13 (round-4) BPE-ish token counting: alongside the whitespace
    * count, tokens by the subword-flavoured regex
    * `[a-z]+|[0-9]+|[^a-z0-9 ]` (letter runs, digit runs, solitary
    * punctuation — the GPT-2 pre-tokenizer's shape without the
    * merges). A pure map-side projection (regexp_extract_all is
    * engine-native on both sides; the alternation uses only syntax
    * Java regex and RE2 interpret identically), so the cost at 100 TB
    * is one scan — exactly how corpus token budgeting runs.
    */
  def textTokensBpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe"),
        size(split(col("text"), " ")).cast("long").as("n_ws"))
      .where(col("doc_id") < 50)
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_tokens_bpe" -> textTokensBpe,
    "q_text_bm25" -> textBm25,
    "q_text_inverted_index" -> invertedIndex,
    "q_text_lm_score" -> textLmScore,
    "q_text_tfidf" -> textTfidf,
    "q_text_repetition" -> textRepetition,
    "q_split_train_test" -> splitTrainTest,
    "q_pipeline_clean" -> pipelineClean,
    "q_explode_pos" -> explodePos,
    "q_unpivot" -> unpivotMetrics,
    "q_dedup_exact" -> dedupExact,
    "q_text_tokens" -> textTokens,
    "q_text_stats" -> textStats,
    "q_text_langid" -> textLangId,
    "q_text_quality" -> textQuality,
    "q_text_fingerprint" -> textFingerprint,
    "q_udtf_bigrams" -> udtfBigrams,
    "q_udf_scalar" -> udfScalar
  )

  val oracle: Map[String, String] = Map(
    "q_text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
        |FROM documents
        |WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,
    "q_text_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |  WHERE tok IN ('join', 'filter', 'scan') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |contrib AS (
        |  SELECT tf.doc_id, tf.tf,
        |    CAST(ln(1.0 + (stats.n - CAST(df.df AS DOUBLE) + 0.5)
        |        / (CAST(df.df AS DOUBLE) + 0.5))
        |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
        |        / (CAST(tf.tf AS DOUBLE) + 1.2
        |          * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
        |      AS DECIMAL(18,9)) AS c
        |  FROM tf JOIN df ON tf.tok = df.tok
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN stats)
        |SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS n_hits,
        |  CAST(sum(c) AS DOUBLE) AS bm25
        |FROM contrib GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id""".stripMargin,
    "q_text_inverted_index" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS df, min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
        |FROM t WHERE term <> '' GROUP BY term ORDER BY term""".stripMargin,
    "q_text_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |counts AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM counts)
        |SELECT doc_id, count(*) AS n_toks,
        |  CAST(sum(CAST(ln(CAST(cnt AS DOUBLE) / tot) AS DECIMAL(18,9))) AS DOUBLE)
        |    / count(*) AS lm_score
        |FROM t JOIN counts USING (tok) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        |SELECT tf.doc_id AS doc_id, tf.tok AS tok, tf.tf AS tf,
        |  CAST(CAST(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / df.df) AS DECIMAL(18,6)) AS DOUBLE) AS tfidf
        |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |WHERE tf.doc_id < 20
        |ORDER BY doc_id, tok""".stripMargin,
    "q_text_repetition" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        |  CAST(CAST(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS DECIMAL(9,6)) AS DOUBLE) AS repetition
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_split_train_test" ->
      """SELECT lang,
        |  CASE WHEN (doc_id * 48271 + 11) % 100 < 80 THEN 'train'
        |       WHEN (doc_id * 48271 + 11) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_id
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,
    "q_pipeline_clean" ->
      """WITH kept AS (
        |  SELECT min(lang) AS lang, text
        |  FROM documents
        |  WHERE n_chars BETWEEN 50 AND 5000
        |  GROUP BY text)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_len
        |FROM kept
        |WHERE len(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) > 0
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q_explode_pos" ->
      """SELECT doc_id,
        |  unnest(list_transform(range(1, len(string_split(text, ' ')) + 1),
        |    i -> CAST(i - 1 AS INTEGER))) AS pos,
        |  unnest(string_split(text, ' ')) AS tok
        |FROM documents
        |WHERE doc_id < 20
        |ORDER BY doc_id, pos""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, metric, val FROM (
        |  UNPIVOT (SELECT p_partkey,
        |             CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS retail_price,
        |             CAST(CAST(p_size AS DECIMAL(18,2)) AS DOUBLE) AS size_dec
        |           FROM part)
        |  ON retail_price, size_dec INTO NAME metric VALUE val)
        |ORDER BY p_partkey, metric""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
        |  CAST(length(text) AS INTEGER) AS text_len
        |FROM documents
        |GROUP BY text
        |ORDER BY keeper_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok NOT IN ('the', 'a', 'of', 'to', 'and', 'in', 'is')
        |GROUP BY tok
        |ORDER BY cnt DESC, tok
        |LIMIT 20""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, source,
        |  count(DISTINCT doc_id) AS n_docs,
        |  count(DISTINCT tok) AS n_distinct_toks,
        |  count(*) AS n_toks,
        |  CAST(CAST(CAST(sum(n_chars) AS DOUBLE) / count(*) AS DECIMAL(18,4)) AS DOUBLE) AS avg_chars_per_tok_row
        |FROM (SELECT lang, source, doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q_text_langid" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE) / len(string_split(text, ' ')) AS s_en,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS DOUBLE) / len(string_split(text, ' ')) AS s_de,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'los', 'es', 'por'))) AS DOUBLE) / len(string_split(text, ' ')) AS s_es,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'et', 'est', 'une'))) AS DOUBLE) / len(string_split(text, ' ')) AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en IS NULL THEN NULL
        |       WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |       WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS pred_lang,
        |  CAST(CAST(s_en AS DECIMAL(9,6)) AS DOUBLE) AS score_en
        |FROM scored
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
        |  CAST(len(regexp_extract_all(text, '[^aeiou ]+[aeiou]*|[aeiou]+', 0)) AS INTEGER) AS n_pieces,
        |  CAST(CAST(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')) AS DECIMAL(18,4)) AS DOUBLE) AS avg_tok_len,
        |  CAST(CAST(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) AS DOUBLE) / len(string_split(text, ' ')) AS DECIMAL(9,6)) AS DOUBLE) AS stop_ratio,
        |  CASE WHEN text IS NULL THEN NULL ELSE
        |    CAST(CAST((CASE WHEN n_chars >= 100 THEN 0.5 ELSE 0.0 END)
        |       + (CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is'))) > 0 THEN 0.5 ELSE 0.0 END) AS DECIMAL(3,1)) AS DOUBLE)
        |  END AS quality
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '), t -> CAST(ascii(t) * 256 + length(t) AS BIGINT))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_udtf_bigrams" ->
      """SELECT bigram, count(*) AS cnt
        |FROM (SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
        |      FROM documents)
        |GROUP BY bigram
        |ORDER BY cnt DESC, bigram
        |LIMIT 20""".stripMargin,
    "q_udf_scalar" ->
      """SELECT doc_id,
        |  lower(trim(regexp_replace(concat('  ', upper(text), '   '), '\s+', ' ', 'g'))) AS norm,
        |  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS INTEGER) AS norm_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}
