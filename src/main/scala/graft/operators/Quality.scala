package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-quality operators a pretraining-data pipeline runs per
  * document, at corpus scale (the published Gopher / C4 / RefinedWeb
  * rule families, re-expressed as codegen'd Spark plans):
  *
  *  - t8: Gopher-style structural quality rules (word-count bounds, mean
  *    word length, symbol ratio, bullet/ellipsis line ratios, stopword
  *    presence) — Rae et al. 2021, Appendix A1.1;
  *  - t9: repetition detection (duplicate-line ratio, top-bigram
  *    fraction) — the "repetitious text" family of the same appendix;
  *  - t10: benchmark-contamination screening via word 8-gram overlap
  *    against an eval set (the n-gram decontamination step every public
  *    LLM data pipeline documents, e.g. GPT-3 appendix C);
  *  - t11: corpus vocabulary — top terms by frequency + document
  *    frequency (the tokenizer-training / corpus-inspection primitive).
  *
  * The synthetic corpus is clean single-line prose, so — like t7's
  * planted PII — each operator PLANTS the pathology it detects by a
  * deterministic doc_id-keyed derivation, mirrored exactly in the
  * oracle SQL. The operators themselves are corpus-agnostic.
  *
  * Scale: t8 is a pure map stage (regexp_count only — no split arrays
  * materialized for the line metrics). t9/t10/t11 explode word arrays
  * but every aggregation is map-side combined and keyed by doc or term
  * (group-count-bound shuffles); t10's benchmark n-gram set is
  * broadcast — an eval suite is MB-scale by construction, the corpus
  * side never shuffles for the join.
  */
object Quality {

  // the shared word analyzer (Java regex ≡ RE2 syntax)
  import TextAnalysis.{WordRe, words}

  // ---- t8: Gopher-style quality rules ----

  /** Planted structure: every 7th doc gets bullet lines, every 11th
    * ellipsis-terminated lines, every 13th a run of '#' symbols. */
  private def t8Corpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .filter(length(col("text")) > 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("- item one\n- item two\n- item three\n"), col("text")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit("\nto be continued...\nwatch this space...")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" ## ## ## ## ##")))
          .otherwise(col("text")))

  private val t8CorpusSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 13 = 0 THEN t2 || ' ## ## ## ## ##' ELSE t2 END AS text
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0
      |      THEN t1 || chr(10) || 'to be continued...' || chr(10) || 'watch this space...'
      |      ELSE t1 END AS t2
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 7 = 0
      |        THEN '- item one' || chr(10) || '- item two' || chr(10) || '- item three' || chr(10) || text
      |        ELSE text END AS t1
      |    FROM documents WHERE length(text) > 0))""".stripMargin

  /** t8: per-document Gopher-style rule evaluation. Pure map stage —
    * every metric is a regexp_count over the raw text (no arrays), so
    * the whole operator fuses into one codegen loop and scales with
    * scan bandwidth. Ratios divide exact ints (bit-identical doubles in
    * any engine). */
  def t8GopherQuality(s: SparkSession, dir: String): DataFrame = {
    val stops = Seq("the", "and", "of", "to", "in")
    val stopHits = stops.map(w =>
      when(regexp_count(col("text"), lit(s"\\b$w\\b")) > 0, 1).otherwise(0))
      .reduce(_ + _)
    t8Corpus(s, dir)
      .withColumn("n_words", regexp_count(col("text"), lit("\\S+")).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_lines", (regexp_count(col("text"), lit("\n")) + 1).cast("long"))
      .withColumn("mean_word_len",
        length(regexp_replace(col("text"), "\\s", "")).cast("double") / col("n_words"))
      .withColumn("bullet_ratio",
        regexp_count(col("text"), lit("(?m)^- ")).cast("double") / col("n_lines"))
      .withColumn("ellipsis_ratio",
        regexp_count(col("text"), lit("(?m)\\.\\.\\.$")).cast("double") / col("n_lines"))
      .withColumn("hash_ratio",
        regexp_count(col("text"), lit("#")).cast("double") / col("n_words"))
      .withColumn("n_stop_hits", stopHits.cast("long"))
      .withColumn("passes",
        (col("n_words") >= 20 && col("n_words") <= 100000 &&
         col("mean_word_len") >= 3 && col("mean_word_len") <= 10 &&
         col("hash_ratio") < 0.1 &&
         col("bullet_ratio") <= 0.9 &&
         col("ellipsis_ratio") <= 0.3 &&
         col("n_stop_hits") >= 2).cast("int"))
      .select("doc_id", "n_words", "n_lines", "mean_word_len", "bullet_ratio",
        "ellipsis_ratio", "hash_ratio", "n_stop_hits", "passes")
      .orderBy("doc_id")
  }

  val t8Sql: String = {
    val stops = Seq("the", "and", "of", "to", "in")
    val stopHits = stops.map(w =>
      s"CASE WHEN len(regexp_extract_all(text, '\\b$w\\b')) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH corpus AS ($t8CorpusSql),
       |m AS (
       | SELECT doc_id,
       |  cast(len(regexp_extract_all(text, '\\S+')) AS bigint) AS n_words,
       |  cast(len(regexp_extract_all(text, '\\n')) + 1 AS bigint) AS n_lines,
       |  cast(length(regexp_replace(text, '\\s', '', 'g')) AS double) AS nospace_chars,
       |  cast(len(regexp_extract_all(text, '(?m)^- ')) AS double) AS bullet_lines,
       |  cast(len(regexp_extract_all(text, '(?m)\\.\\.\\.$$')) AS double) AS ellipsis_lines,
       |  cast(len(regexp_extract_all(text, '#')) AS double) AS n_hash,
       |  cast($stopHits AS bigint) AS n_stop_hits
       | FROM corpus),
       |r AS (
       | SELECT doc_id, n_words, n_lines,
       |  nospace_chars / n_words AS mean_word_len,
       |  bullet_lines / n_lines AS bullet_ratio,
       |  ellipsis_lines / n_lines AS ellipsis_ratio,
       |  n_hash / n_words AS hash_ratio,
       |  n_stop_hits
       | FROM m WHERE n_words > 0)
       |SELECT doc_id, n_words, n_lines, mean_word_len, bullet_ratio,
       | ellipsis_ratio, hash_ratio, n_stop_hits,
       | CASE WHEN n_words >= 20 AND n_words <= 100000
       |   AND mean_word_len >= 3 AND mean_word_len <= 10
       |   AND hash_ratio < 0.1 AND bullet_ratio <= 0.9
       |   AND ellipsis_ratio <= 0.3 AND n_stop_hits >= 2
       |  THEN 1 ELSE 0 END AS passes
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---- t9: repetition detection ----

  /** Planted repetition: every 9th doc gets three identical appended
    * lines (which also repeat a bigram). */
  private def t9Corpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 9 === 0,
          concat(col("text"),
            lit("\nrepeat line alpha\nrepeat line alpha\nrepeat line alpha")))
          .otherwise(col("text")))

  private val t9CorpusSql =
    """SELECT doc_id, CASE WHEN doc_id % 9 = 0
      |  THEN text || chr(10) || 'repeat line alpha' || chr(10) || 'repeat line alpha' || chr(10) || 'repeat line alpha'
      |  ELSE text END AS text
      |FROM documents""".stripMargin

  /** t9: per-document repetition metrics — duplicate-line ratio and the
    * fraction of all word bigrams taken by the single most frequent
    * bigram (Gopher's "top 2-gram" rule). Every metric is a function of
    * ONE document, so the whole screen is a pure map stage: the max
    * bigram multiplicity comes from the codegen'd
    * [[graft.functions.TopBigramFreq]] expression (one hash-count pass
    * per row, no bigram strings allocated), replacing the relational
    * formulation's explode + two doc-keyed exchanges + join back. Zero
    * shuffles before the final order; scales with scan bandwidth. */
  def t9Repetition(s: SparkSession, dir: String): DataFrame = {
    t9Corpus(s, dir)
      .withColumn("w", words(col("text")))
      .filter(size(col("w")) >= 2)
      .withColumn("n_lines", size(split(col("text"), "\n")).cast("long"))
      .withColumn("n_distinct_lines",
        size(array_distinct(split(col("text"), "\n"))).cast("long"))
      .withColumn("top_c", graft.functions.TopBigramFreq(col("w")))
      .withColumn("n_bigrams", (size(col("w")) - 1).cast("long"))
      .select(col("doc_id"), col("n_lines"),
        (lit(1d) - col("n_distinct_lines").cast("double") / col("n_lines")).as("dup_line_ratio"),
        (col("top_c").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        col("n_bigrams"))
      .orderBy("doc_id")
  }

  val t9Sql: String =
    s"""WITH corpus AS ($t9CorpusSql),
       |d AS (
       | SELECT doc_id, text, regexp_extract_all(lower(text), '$WordRe') AS w,
       |  cast(len(string_split(text, chr(10))) AS bigint) AS n_lines,
       |  cast(len(list_distinct(string_split(text, chr(10)))) AS bigint) AS n_distinct_lines
       | FROM corpus WHERE len(regexp_extract_all(lower(text), '$WordRe')) >= 2),
       |bg AS (
       | SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg
       | FROM d),
       |cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
       |agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bigrams FROM cnt GROUP BY doc_id)
       |SELECT d.doc_id, n_lines,
       | 1.0 - cast(n_distinct_lines AS double) / n_lines AS dup_line_ratio,
       | cast(top_c AS double) / n_bigrams AS top_bigram_frac,
       | cast(n_bigrams AS bigint) AS n_bigrams
       |FROM d JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---- t10: benchmark-contamination screen ----

  val CanaryText =
    "benchmark canary sequence alpha beta gamma delta epsilon zeta eta theta iota"

  /** Planted contamination: every 13th doc has the canary appended —
    * those docs share word 8-grams with the benchmark set. */
  private def t10Corpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" " + CanaryText)))
          .otherwise(col("text")))

  private val t10CorpusSql =
    s"""SELECT doc_id, CASE WHEN doc_id % 13 = 0
       |  THEN text || ' $CanaryText' ELSE text END AS text
       |FROM documents""".stripMargin

  /** Normalized word stream: lowercase WordRe tokens re-joined on single
    * spaces, so whitespace tokenization of the result IS the word
    * tokenization — the bridge that lets the O(1)-per-window rolling
    * [[graft.functions.TokenWindowHashes]] fingerprint word n-grams. */
  private def wordStream(text: Column): Column = concat_ws(" ", words(text))

  /** t10: contamination screen — documents sharing any word 8-gram with
    * the benchmark set (the canary + the leading 15 words of every 50th
    * doc), with the count of distinct overlapping 8-grams. The benchmark
    * gram set is BROADCAST (an eval suite is small by construction); the
    * corpus streams its 8-gram fingerprints map-side and only matching
    * rows reach the one doc-keyed shuffle.
    *
    * Grams are compared as 64-bit rolling window hashes (d17's
    * `token_window_hashes` over the normalized word stream), not as
    * concatenated strings: the string form built ~w chars per token per
    * window (~50 MB of short-lived gram strings per 5k-doc split —
    * measured as the allocation hot spot in the round-9 driver bench),
    * where the rolling form is O(1) per window with zero allocation,
    * and 8 bytes instead of ~50 per join probe. Hash-for-string equality
    * is the same fingerprint trade d17 documents (collisions negligible,
    * oracle unchanged in string space catches any).
    *
    * Shape note (measured, round 4): collapsing the bench set to one
    * array row + per-row `array_intersect` looks cheaper on paper (no
    * explode, no doc-keyed shuffle) but is ~2x SLOWER — the
    * BroadcastNestedLoopJoin materializes the full gram array into
    * every corpus row, and the per-row set build repeats work the
    * broadcast hash join's shared build-side table does once. The
    * explode feeds codegen'd streaming rows into that shared hash
    * table, and non-matching grams die map-side without ever being
    * exchanged. */
  def t10Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t10Corpus(s, dir)
    val benchDocs = Tables.documents(s, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(expr(s"concat_ws(' ', slice(regexp_extract_all(lower(text), '$WordRe', 0), 1, 15))").as("text"))
      .unionByName(s.range(1).select(lit(CanaryText).as("text")))
    val benchGrams = benchDocs
      .select(explode(graft.functions.TokenWindows.hashes(wordStream(col("text")), 8)).as("gh"))
      .distinct()
    // join BEFORE deduplicating: the broadcast hash join filters corpus
    // 8-grams map-side, so only matching (doc, gram) rows ever shuffle —
    // a corpus-wide distinct first would shuffle every 8-gram of every doc
    docs.select(col("doc_id"),
        explode(graft.functions.TokenWindows.hashes(wordStream(col("text")), 8)).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"))
      .groupBy("doc_id").agg(countDistinct(col("gh")).as("n_hits"))
      .orderBy("doc_id")
  }

  val t10Sql: String =
    s"""WITH corpus AS ($t10CorpusSql),
       |docw AS (
       | SELECT doc_id, regexp_extract_all(lower(text), '$WordRe') AS w FROM corpus),
       |docg AS (
       | SELECT DISTINCT doc_id, ng FROM (
       |  SELECT doc_id,
       |   unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS ng
       |  FROM docw WHERE len(w) >= 8)),
       |bench AS (
       | SELECT array_to_string((regexp_extract_all(lower(text), '$WordRe'))[1:15], ' ') AS text
       | FROM documents WHERE doc_id % 50 = 0
       | UNION ALL SELECT '$CanaryText'),
       |benchw AS (SELECT regexp_extract_all(lower(text), '$WordRe') AS w FROM bench),
       |benchg AS (
       | SELECT DISTINCT ng FROM (
       |  SELECT unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS ng
       |  FROM benchw WHERE len(w) >= 8))
       |SELECT doc_id, count(*) AS n_hits
       |FROM docg JOIN benchg USING (ng)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- t11: corpus vocabulary ----

  val VocabK = 100

  /** t11: top-K corpus vocabulary by term frequency with document
    * frequency — the tokenizer-training / corpus-inspection primitive.
    * One explode + one term-keyed shuffle (map-side combined; the
    * distinct-doc count is Spark's standard two-phase distinct agg);
    * the global top-K collapses to TakeOrderedAndProject. */
  def t11VocabTopK(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("word").asc)
      .limit(VocabK)

  val t11Sql: String =
    s"""SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
       |FROM (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$WordRe')) AS word
       | FROM documents)
       |WHERE length(word) >= 2
       |GROUP BY word ORDER BY tf DESC, word ASC LIMIT $VocabK""".stripMargin

  // ---- t12: per-document TF-IDF key terms ----

  val TfidfK = 3

  /** t12: top-3 characteristic terms per document by TF-IDF — the
    * keyword-extraction / relevance-weighting primitive (the classic
    * Sparck Jones weighting behind every BM25-ish retrieval stack).
    *
    * score = tf × ln(n_docs / df), reported as the exact integer
    * `score_micro` = floor(score × 1e6): floats never appear in the
    * output or in the rank comparison beyond one IEEE multiply+floor of
    * the ln result, so cross-engine comparison stays exact (the repo
    * rule — engine-internal floats don't leave the engine; cf.
    * Similarity's rank-only outputs). Ties (including mathematically
    * equal scores from different (tf, df) pairs) break by term ASC.
    *
    * Scale: explode → one (doc, term)-keyed map-side-combined count;
    * df reuses the tf table with a term-keyed group (group-count-bound);
    * the scalar n_docs is a one-row broadcast; the top-3 window
    * partitions by high-cardinality doc_id (per-doc slices, the e3
    * shape). At 100 TB the df table is vocabulary-bound and the fact
    * shuffle is distinct-(doc,term)-bound — never corpus text. */
  def t12Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = tf.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score_micro").desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score_micro",
        floor(col("tf") * log(col("n_docs").cast("double") / col("df")) * 1e6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select("doc_id", "rank", "term", "tf", "df", "score_micro")
      .orderBy("doc_id", "rank")
  }

  val t12Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term
       | FROM documents),
       |tfc AS (
       | SELECT doc_id, term, count(*) AS tf FROM toks
       | WHERE length(term) >= 3 GROUP BY doc_id, term),
       |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tfc),
       |scored AS (
       | SELECT doc_id, tfc.term, tf, df,
       |  cast(floor(tf * ln(cast(n_docs AS double) / df) * 1e6) AS bigint) AS score_micro
       | FROM tfc JOIN dfc USING (term) CROSS JOIN n)
       |SELECT doc_id,
       | row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rank,
       | term, tf, df, score_micro
       |FROM scored
       |QUALIFY rank <= $TfidfK
       |ORDER BY doc_id, rank""".stripMargin

  // ---- t17: unigram language-model quality score ----

  /** t17: per-document unigram-LM surprisal — the CCNet-style quality
    * signal: score every document by how "surprising" its tokens are
    * under a unigram model TRAINED ON THE CORPUS ITSELF (per-token cost
    * = ln(total_tokens / corpus_term_frequency), i.e. the token's
    * self-information in nats). Low mean surprisal ≈ common, fluent
    * text; high ≈ rare-token noise — the bucket boundaries a pipeline
    * filters or re-weights on (Wenzek et al. 2020 use a KenLM trained
    * off-corpus; the self-trained unigram variant is the zero-dependency
    * in-engine form, and the plumbing is identical).
    *
    * Determinism contract: the ONLY float op is one ln → one multiply →
    * one floor per DISTINCT (term) — `cost_micro = floor(ln(total/ctf)
    * × 1e6)` (the t12 score_micro precedent) — after which everything
    * is exact integer arithmetic, so per-doc SUMS are order-independent
    * and cross-engine hash-stable. mean_micro uses integer division
    * (both operands positive).
    *
    * Scale: same skeleton as t12 — one (doc,term)-keyed map-combined
    * count off the scan, a vocabulary-bound term rollup for ctf, a
    * one-row broadcast total, and a doc-keyed final agg. Nothing
    * corpus-text-sized shuffles; the ctf join is vocabulary-bound
    * (AQE broadcasts it when it fits, hash-joins when it doesn't). */
  def t17UnigramLm(s: SparkSession, dir: String): DataFrame = {
    // the explicit isNotNull matches the null-filter the join below infers
    // on its key, so all three consumers of `tf` (probe, ctf, total) stay
    // CANONICALLY EQUAL and AQE reuses one (doc,term) shuffle for the
    // whole plan instead of re-scanning the corpus per branch (the e9
    // exchange-reuse lesson; plan-asserted in ScaleShapeSpec)
    val tf = Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val total = ctf.agg(sum(col("ctf")).as("total"))
    tf.join(ctf, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("cost_micro",
        floor(log(col("total").cast("double") / col("ctf")) * 1e6))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cost_micro")).as("surprisal_micro"))
      .withColumn("mean_micro", expr("surprisal_micro div n_tokens"))
      .select("doc_id", "n_tokens", "surprisal_micro", "mean_micro")
      .orderBy("doc_id")
  }

  val t17Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term
       | FROM documents),
       |tfc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |ctfc AS (SELECT term, sum(tf) AS ctf FROM tfc GROUP BY term),
       |tot AS (SELECT sum(ctf) AS total FROM ctfc),
       |costed AS (
       | SELECT doc_id, tf,
       |  cast(floor(ln(cast(total AS double) / ctf) * 1e6) AS bigint) AS cost_micro
       | FROM tfc JOIN ctfc USING (term) CROSS JOIN tot)
       |SELECT doc_id,
       | cast(sum(tf) AS bigint) AS n_tokens,
       | cast(sum(tf * cost_micro) AS bigint) AS surprisal_micro,
       | cast(sum(tf * cost_micro) // sum(tf) AS bigint) AS mean_micro
       |FROM costed GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- t17 deployment twin: the persisted unigram LM ----

  /** Persist t17's trained unigram LM: the vocabulary-bound (term,
    * cost_micro) table plus a NULL-term sentinel row carrying the
    * unseen-token default (cost at ctf = 1 — the most surprising a
    * token can be under the trained totals). This is the CCNet
    * deployment shape proper (Wenzek et al. train their LM on clean
    * text and score the CRAWL with it): training pays the corpus
    * shuffle once; every later batch scores against the artifact
    * without touching the training corpus. Third member of the stored-
    * model family (t19 DSIR costs, t26 BM25 stats). */
  def t17LmWrite(s: SparkSession, dir: String, path: String): Unit = {
    val tf = Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy("term").agg(sum(col("tf")).as("ctf"))
    val total = ctf.agg(sum(col("ctf")).as("total")).localCheckpoint()
    val costs = ctf.crossJoin(broadcast(total))
      .select(col("term"),
        floor(log(col("total").cast("double") / col("ctf")) * 1e6).as("cost_micro"))
    val dflt = total.select(lit(null).cast("string").as("term"),
      floor(log(col("total").cast("double") / lit(1L)) * 1e6).as("cost_micro"))
    costs.unionByName(dflt).write.mode("overwrite").parquet(path)
  }

  /** Score a (doc_id, text) batch against the stored LM — identical
    * arithmetic to [[t17UnigramLm]] on the training corpus itself
    * (spec-pinned); unseen terms take the sentinel default. The batch's
    * only shuffle is its own (doc,term) count; the cost join is
    * vocabulary-bound (broadcast when it fits, hash-join when not). */
  def t17ScoreFrom(s: SparkSession, path: String, batch: DataFrame): DataFrame = {
    val stored = Tables.parquet(s, path)
    val costs = stored.filter(col("term").isNotNull)
    val dflt = stored.filter(col("term").isNull)
      .select(col("cost_micro").as("dflt_micro"))
    batch.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .join(costs, Seq("term"), "left")
      .crossJoin(broadcast(dflt))
      .select(col("doc_id"), col("tf"),
        coalesce(col("cost_micro"), col("dflt_micro")).as("cost_micro"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cost_micro")).as("surprisal_micro"))
      .withColumn("mean_micro", expr("surprisal_micro div n_tokens"))
      .select("doc_id", "n_tokens", "surprisal_micro", "mean_micro")
  }

  // ---- t33: self-trained BIGRAM-LM surprisal (t17's order-aware twin) ----

  /** t33: per-document BIGRAM-LM surprisal — the order-aware extension
    * of t17 (CCNet's production signal is a 5-gram KenLM, Wenzek et al.
    * 2020 §4.2; the unigram t17 scores WHICH words a document uses,
    * this scores whether they appear in FLUENT ORDER — scrambled or
    * concatenated-fragment text has ordinary unigrams but rare
    * transitions, exactly the failure class t17 cannot see). Model:
    * add-1-smoothed conditional p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+|Vc|)
    * with |Vc| = the CONTINUATION vocabulary (distinct w2) — the choice
    * that makes add-1 EXACTLY normalized (Σ_w2 p = 1) while letting
    * every model statistic derive from the one bigram frame: history
    * mass c(w1·) is its w1-rollup and |Vc| its distinct-w2 count, so no
    * second corpus pass exists at all (one better than t17's skeleton).
    *
    * Determinism: the t17 contract — ONE ln → multiply → floor per
    * DISTINCT bigram over exact-BIGINT operands; per-doc sums are
    * integer and order-independent; mean is integer `div`.
    *
    * Scale: bigrams are built ROW-LOCALLY (a codegen'd transform over
    * the word array — never a positional self-join); the ONLY
    * corpus-sized shuffle is the (doc, bigram) map-combined count; the
    * cost frame is bigram-vocabulary-bound (AQE broadcasts when it
    * fits, hash-joins when not — the t12/t17 class); history/vocab
    * rollups are vocab-bound. */
  def t33BigramLm(s: SparkSession, dir: String): DataFrame = {
    val bf = Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), words(col("text")).as("w"))
      // sequence(1, n-1) would run DESCENDING for n <= 1 — guard to an
      // empty array (docs with one word have no transitions to score)
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |  THEN transform(sequence(1, size(w) - 1),
          |         i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("bf"))
    val bgc = bf.groupBy("bg").agg(sum(col("bf")).as("c12"))
    val hist = bgc.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1h"))
    val vcont = bgc.agg(
      countDistinct(substring_index(col("bg"), " ", -1)).as("v"))
    val costed = bgc
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(hist, Seq("w1"))
      .crossJoin(broadcast(vcont))
      .select(col("bg"),
        floor(log((col("c1h") + col("v")).cast("double") / (col("c12") + 1)) * 1e6)
          .as("cost_micro"))
    bf.join(costed, Seq("bg"))
      .groupBy("doc_id")
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf") * col("cost_micro")).as("surprisal_micro"))
      .withColumn("mean_micro", expr("surprisal_micro div n_bigrams"))
      .select("doc_id", "n_bigrams", "surprisal_micro", "mean_micro")
      .orderBy("doc_id")
  }

  /** Row-local bigram frame shared by the t33 paths: (doc_id, bg, bf). */
  private def t33BigramCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(w) >= 2
          |  THEN transform(sequence(1, size(w) - 1),
          |         i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))
          |  ELSE array() END""".stripMargin)).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("bf"))

  /** t33 deployment twin, write side (the stored-model family: t17 LM,
    * t19 DSIR, t26 BM25 stats): persist the trained bigram model as the
    * bigram-vocabulary-bound (bg, cost_micro) table plus per-HISTORY
    * unseen-continuation sentinel rows (`w1  `, cost at c12 = 0 —
    * what add-1 assigns any transition out of a KNOWN history) and one
    * global NULL-bg default (cost at c1h = 0, c12 = 0 — a transition out
    * of an UNSEEN history, the most surprising the model can be).
    * Training pays the corpus shuffle once; later batches score against
    * the artifact without re-reading the training corpus. */
  def t33LmWrite(s: SparkSession, dir: String, path: String): Unit = {
    val bf = t33BigramCounts(Tables.documents(s, dir).select("doc_id", "text"))
    val bgc = bf.groupBy("bg").agg(sum(col("bf")).as("c12"))
    val hist = bgc.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1h"))
    val vcont = bgc.agg(
      countDistinct(substring_index(col("bg"), " ", -1)).as("v")).localCheckpoint()
    val costs = bgc
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(hist, Seq("w1"))
      .crossJoin(broadcast(vcont))
      .select(col("bg"),
        floor(log((col("c1h") + col("v")).cast("double") / (col("c12") + 1)) * 1e6)
          .as("cost_micro"))
    val histDflt = hist.crossJoin(broadcast(vcont))
      .select(concat(col("w1"), lit("  ")).as("bg"),
        floor(log((col("c1h") + col("v")).cast("double")) * 1e6).as("cost_micro"))
    val dflt = vcont
      .select(lit(null).cast("string").as("bg"),
        floor(log(col("v").cast("double")) * 1e6).as("cost_micro"))
    costs.unionByName(histDflt).unionByName(dflt)
      .write.mode("overwrite").parquet(path)
  }

  /** Score a (doc_id, text) batch against the STORED bigram LM —
    * identical arithmetic to [[t33BigramLm]] on the training corpus
    * itself (spec-pinned). Unseen transitions fall back per add-1: a
    * known history takes its `w1  ` sentinel cost, an unknown
    * history the global default. The batch's only shuffle is its own
    * (doc, bigram) count; every model join is vocabulary-bound. */
  def t33ScoreFrom(s: SparkSession, path: String, batch: DataFrame): DataFrame = {
    val stored = Tables.parquet(s, path)
    val costs = stored.filter(col("bg").isNotNull && !col("bg").endsWith(" "))
    val histDflt = stored.filter(col("bg").isNotNull && col("bg").endsWith(" "))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        col("cost_micro").as("hist_micro"))
    val dflt = stored.filter(col("bg").isNull)
      .select(col("cost_micro").as("dflt_micro"))
    t33BigramCounts(batch)
      .join(costs, Seq("bg"), "left")
      .join(histDflt, substring_index(col("bg"), " ", 1) === col("w1"), "left")
      .crossJoin(broadcast(dflt))
      .select(col("doc_id"), col("bf"),
        coalesce(col("cost_micro"), col("hist_micro"), col("dflt_micro")).as("cost_micro"))
      .groupBy("doc_id")
      .agg(sum(col("bf")).as("n_bigrams"),
        sum(col("bf") * col("cost_micro")).as("surprisal_micro"))
      .withColumn("mean_micro", expr("surprisal_micro div n_bigrams"))
      .select("doc_id", "n_bigrams", "surprisal_micro", "mean_micro")
  }

  val t33Sql: String =
    s"""WITH ws AS (
       | SELECT doc_id, regexp_extract_all(lower(text), '$WordRe') AS w
       | FROM documents),
       |bg AS (
       | SELECT doc_id,
       |  unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg
       | FROM ws),
       |bfc AS (SELECT doc_id, bg, count(*) AS bf FROM bg GROUP BY doc_id, bg),
       |bgc AS (SELECT bg, sum(bf) AS c12 FROM bfc GROUP BY bg),
       |hist AS (
       | SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1h FROM bgc GROUP BY 1),
       |vc AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS v FROM bgc),
       |costed AS (
       | SELECT bg,
       |  cast(floor(ln(cast(c1h + v AS double) / (c12 + 1)) * 1e6) AS bigint) AS cost_micro
       | FROM bgc JOIN hist ON split_part(bgc.bg, ' ', 1) = hist.w1 CROSS JOIN vc)
       |SELECT f.doc_id,
       | cast(sum(f.bf) AS bigint) AS n_bigrams,
       | cast(sum(f.bf * c.cost_micro) AS bigint) AS surprisal_micro,
       | cast(sum(f.bf * c.cost_micro) // sum(f.bf) AS bigint) AS mean_micro
       |FROM bfc f JOIN costed c ON f.bg = c.bg
       |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // ---- t18: fuzzy benchmark decontamination ----

  /** Benchmark set for t18: every 7th corpus doc, PERTURBED (appended
    * tail) so exact matching — t10's 8-gram overlap or d1's hash — would
    * miss it; ids offset to 500000+ so one LSH pass separates sides. */
  private def t18Corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(col("text"), lit(Dedup.NearTail)).as("text")))
  }

  private val t18CorpusSql: String =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 500000 AS doc_id, text || '${Dedup.NearTail}' AS text
       |  FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Verify-stage threshold: planted perturbed twins score ≥ 0.6
    * word-bigram Jaccard (≥ 9 text bigrams vs ≤ 6 tail-added ones at
    * the 10-word corpus minimum) while unrelated LSH band collisions
    * measure ≤ 0.12 on this corpus — 0.4 splits the gap with margin. */
  val DecontamTau = 0.4

  /** t18: FUZZY decontamination — flag training documents that
    * NEAR-match a held-out benchmark document, the companion to t10's
    * exact 8-gram screen: t10 catches verbatim inclusion, t18 catches
    * the paraphrased / reformatted / tail-perturbed inclusion exact
    * n-grams miss (the fuzzy decontamination step in FineWeb/Dolma-style
    * pipelines). Two stages, the shape every production near-dup
    * pipeline runs: (1) CANDIDATES from one [[Dedup.lshPairs]] pass over
    * the union of both sides (ids disjoint by construction), (2) VERIFY
    * each candidate with the exact word-bigram Jaccard
    * ([[graft.functions.WordBigramJaccard]], codegen'd) — LSH banding
    * admits ~1%-of-corpus false collisions by design, and the verify
    * stage kills them (spec asserts zero false positives survive).
    * Output is the removal list: training doc ids with the number of
    * benchmark docs each verifiably near-matches.
    *
    * Plan: signatures are one codegen'd expression per doc, the only
    * corpus-sized shuffle is 4 (band,key) rows per doc, pairs emerge
    * from a row-local bucket walk, and the verify joins attach TEXT to
    * the candidate SLIVER (broadcast build side — pairs are
    * collision-bound), so bigram sets are computed only for candidates.
    * At 100 TB the benchmark side is MB-scale, so the union costs
    * nothing and banding cost stays corpus-linear. */
  def t18FuzzyDecontam(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.WordBigramJaccard
    val c = t18Corpus(s, dir)
    val cand = Dedup.lshPairs(c)
      .filter(col("doc_a") < 500000 && col("doc_b") >= 500000)
    val ta = c.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = c.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    // both text-attach joins PROBE the corpus with the broadcast sliver
    // as build side — candidate texts are filtered map-side, nothing
    // corpus-sized shuffles (the d13 audit-join shape)
    tb.join(broadcast(ta.join(broadcast(cand), Seq("doc_a"))), Seq("doc_b"))
      .filter(WordBigramJaccard(col("text_a"), col("text_b")) >= DecontamTau)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_hits"))
      .orderBy("doc_id")
  }

  lazy val t18Sql: String =
    s"""WITH pairs AS (${Dedup.lshPairsSqlFor(t18CorpusSql)}),
       |bg AS (
       | SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bg
       | FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |       FROM ($t18CorpusSql))
       | WHERE len(t) >= 2)
       |SELECT doc_a AS doc_id, count(*) AS n_bench_hits
       |FROM pairs p
       |JOIN bg a ON p.doc_a = a.doc_id
       |JOIN bg b ON p.doc_b = b.doc_id
       |WHERE doc_a < 500000 AND doc_b >= 500000
       |  AND cast(len(list_intersect(a.bg, b.bg)) AS double)
       |      / len(list_distinct(list_concat(a.bg, b.bg))) >= $DecontamTau
       |GROUP BY doc_a ORDER BY doc_id""".stripMargin

  // ---- t20: CCNet head/middle/tail buckets ----

  /** t20: CCNet-style HEAD/MIDDLE/TAIL quality bucketing (Wenzek et al.
    * 2020 §4.3): score every document with a per-LANGUAGE unigram-LM
    * surprisal (t17's estimator, one model per lang — CCNet trains one
    * KenLM per language), then split each language's documents into
    * terciles by score: `head` = lowest mean surprisal (most fluent —
    * what CCNet keeps), `tail` = highest. The tercile CUTOFFS are exact
    * rank-based (DISC) quantiles at p=1/3 and p=2/3 computed by the
    * bounded [[Quantiles.exactGroupedQuantiles]] machinery — NOT a
    * per-lang row_number window, which would sort the corpus in
    * |langs| reducer partitions (the q15 scale rule). Cutoffs are a
    * ≤ 2·|langs|-row frame broadcast back, so assignment is map-side.
    *
    * Determinism: per-(lang,term) cost_micro = floor(ln(total/ctf)·1e6)
    * — ONE float op per distinct (lang,term), integer sums after (the
    * t17 contract); surprisal ≥ 0 so `div` truncation agrees with the
    * oracle's `//`; DISC cutoffs are raw mean_micro LONGS, and tie
    * handling is value-based (`<= cutoff`), not rank-based, so equal
    * scores land in the same bucket in both engines. */
  def t20CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir).select("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
    val ctf = tf.groupBy("lang", "term").agg(sum(col("tf")).as("ctf"))
    val tot = ctf.groupBy("lang").agg(sum(col("ctf")).as("total"))
    // one row per doc — materialized ONCE (the s6/s7 discipline): the
    // quantile machinery and the final assignment join both consume it,
    // and without the checkpoint each reference re-runs the whole
    // explode + three-join LM subtree (measured 2.3s → ~1s at sf0.1)
    val perDoc = tf.join(ctf, Seq("lang", "term"))
      .join(broadcast(tot), Seq("lang"))
      .withColumn("cost_micro",
        floor(log(col("total").cast("double") / col("ctf")) * 1e6))
      .groupBy("doc_id", "lang")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cost_micro")).as("surprisal_micro"))
      .withColumn("mean_micro", expr("surprisal_micro div n_tokens"))
      .localCheckpoint()
    val cuts = Quantiles.exactGroupedQuantiles(
        perDoc.select("lang", "mean_micro"), key = "lang", value = "mean_micro",
        probs = Seq("p33" -> 1.0 / 3, "p67" -> 2.0 / 3))
      .groupBy("lang")
      .agg(max(when(col("which") === "p33", col("v"))).as("p33"),
        max(when(col("which") === "p67", col("v"))).as("p67"))
    perDoc.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("mean_micro"),
        when(col("mean_micro") <= col("p33"), lit("head"))
          .when(col("mean_micro") <= col("p67"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      // ORACLE-HASH sort only: the driver's compare needs a total order
      // on this corpus-sized output. A serving deployment consumes the
      // unsorted frame — do not ship this global sort. (The rule applies
      // to every corpus-sized .orderBy feeding the oracle gate.)
      .orderBy("doc_id")
  }

  lazy val t20Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term
       | FROM documents),
       |tfc AS (SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
       |ctfc AS (SELECT lang, term, sum(tf) AS ctf FROM tfc GROUP BY 1, 2),
       |tot AS (SELECT lang, sum(ctf) AS total FROM ctfc GROUP BY 1),
       |perdoc AS (
       | SELECT doc_id, lang,
       |  cast(sum(tf) AS bigint) AS n_tokens,
       |  cast(sum(tf * cast(floor(ln(cast(total AS double) / ctf) * 1e6) AS bigint))
       |       // sum(tf) AS bigint) AS mean_micro
       | FROM tfc JOIN ctfc USING (lang, term) JOIN tot USING (lang)
       | GROUP BY 1, 2),
       |ranked AS (
       | SELECT lang, mean_micro,
       |  row_number() OVER (PARTITION BY lang ORDER BY mean_micro, doc_id) AS rn,
       |  count(*) OVER (PARTITION BY lang) AS n
       | FROM perdoc),
       |cuts AS (
       | SELECT lang,
       |  max(CASE WHEN rn = cast(ceil((1.0 / 3) * n) AS bigint) THEN mean_micro END) AS p33,
       |  max(CASE WHEN rn = cast(ceil((2.0 / 3) * n) AS bigint) THEN mean_micro END) AS p67
       | FROM ranked GROUP BY lang)
       |SELECT d.doc_id, d.lang, d.n_tokens, d.mean_micro,
       | CASE WHEN d.mean_micro <= c.p33 THEN 'head'
       |      WHEN d.mean_micro <= c.p67 THEN 'middle'
       |      ELSE 'tail' END AS bucket
       |FROM perdoc d JOIN cuts c USING (lang)
       |ORDER BY doc_id""".stripMargin

  // ---- t19: DSIR hashed-bigram importance weights ----

  /** Hashed feature-space size for t19 (DSIR uses 10k hashed n-gram
    * buckets; 4096 keeps the per-bucket cost frame broadcast-sized at
    * ANY corpus scale — the frame is bucket-bound, not corpus-bound). */
  private[graft] val DsirBuckets = 4096L

  /** Row-local DSIR featurizer: the document's hashed word-bigram bucket
    * ids as ONE array column (empty if < 2 words) — the zero-shuffle
    * form the streaming scorer folds over. Same tokenization, bigram
    * and bucket derivation as [[dsirFeats]] (spec-pinned equal). */
  private[graft] def dsirBucketArray(text: Column): Column = {
    import graft.functions.Md5PrefixModF
    val w = words(text)
    val bgs = when(size(w) >= 2,
      zip_with(
        slice(w, lit(1), size(w) - 1),
        slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array())
    transform(bgs, bg => Md5PrefixModF(bg, DsirBuckets))
  }

  /** Hashed word-bigram feature counts: one row per (doc, bucket). */
  private[graft] def dsirFeats(docs: DataFrame): DataFrame = {
    import graft.functions.Md5PrefixModF
    docs
      .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      .select(col("doc_id"), col("lang"),
        Md5PrefixModF(col("bg"), DsirBuckets).as("bucket"))
      .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** The learned per-bucket log-ratio costs (≤ [[DsirBuckets]]+1 rows):
    * `(bucket, cost_micro)` for every bucket seen in the raw corpus,
    * plus a `bucket = -1` row holding the smoothed DEFAULT cost a bucket
    * unseen in training gets (ct = cr = 0 in the estimator) — what makes
    * the frame a closed, persistable model rather than a lookup with
    * holes. */
  private[operators] def dsirCosts(feats: DataFrame, targetLang: String): DataFrame = {
    // both rollups reuse the one (doc,lang,bucket) exchange (t17 lesson)
    val raw = feats.groupBy("bucket").agg(sum(col("cnt")).as("cr"))
    val tgt = feats.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(sum(col("cnt")).as("ct"))
    val tot = raw.agg(sum(col("cr")).as("rtot"))
      .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("ttot")))
    // ONE ln per bucket. Each FACTOR is cast to double BEFORE the
    // multiply so the product can never overflow int64 (rtot^2 > 2^63
    // at ~3e9 corpus bigrams — well inside 100 TB). At any scale where
    // both factors are < 2^53 (all test SFs) the double product is
    // correctly rounded and bit-identical to the int64-product form;
    // beyond that, double rounding is ~1e-16 relative — ln is taken
    // immediately, so it is invisible at the 1e-6 micro-nat floor.
    // Then floor to integer micro-nats: per-doc sums are exact-integer
    // from here on.
    def lnMicro(ct: Column, cr: Column): Column =
      floor(log(
        ((ct + 1).cast("double") * (col("rtot") + DsirBuckets).cast("double")) /
        ((cr + 1).cast("double") * (col("ttot") + DsirBuckets).cast("double"))) * 1e6)
        .cast("long")
    raw.join(tgt, Seq("bucket"), "left").crossJoin(tot)
      .select(col("bucket"), lnMicro(coalesce(col("ct"), lit(0L)), col("cr")).as("cost_micro"))
      .unionByName(tot.select(lit(-1L).as("bucket"),
        lnMicro(lit(0L), lit(0L)).as("cost_micro")))
  }

  /** Map-side scoring of featurized docs against a cost frame: broadcast
    * join (left, so train-unseen buckets take the `bucket = -1` default)
    * then one doc-keyed integer aggregate. */
  private[operators] def dsirScore(feats: DataFrame, costs: DataFrame): DataFrame = {
    val real = costs.filter(col("bucket") >= 0)
    val dflt = costs.filter(col("bucket") === -1L)
      .select(col("cost_micro").as("default_micro"))
    feats.join(broadcast(real), Seq("bucket"), "left")
      .crossJoin(broadcast(dflt))
      .withColumn("c", coalesce(col("cost_micro"), col("default_micro")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("c")).as("weight_micro"))
      .withColumn("mean_micro",
        floor(col("weight_micro").cast("double") / col("n_bigrams")).cast("long"))
      .select("doc_id", "n_bigrams", "weight_micro", "mean_micro")
      .orderBy("doc_id")
  }

  /** Importance-weight core shared by [[t19DsirWeights]] and the fixture
    * spec: given (doc_id, lang, text), score every document by
    * sum over its hashed word-bigram features of
    * `count × ln(p_target(b) / p_raw(b))` with add-1 smoothing, where
    * target = the `targetLang` slice and raw = the whole input. */
  private[operators] def dsirWeights(docs: DataFrame, targetLang: String): DataFrame = {
    // featurize ONCE (the t20/s6 discipline): the two distribution
    // rollups, their totals, and the scoring join all consume `feats`,
    // and column pruning defeats exchange reuse across them (the e9
    // lesson) — without the checkpoint the corpus explode runs ~5×
    val feats = dsirFeats(docs).localCheckpoint()
    dsirScore(feats, dsirCosts(feats, targetLang))
  }

  /** Train-once/score-forever deployment of t19 (the d15 persisted-
    * artifact discipline): persist the learned cost frame, then score
    * any future crawl batch MAP-ONLY against the stored model — the
    * batch is featurized and broadcast-joined; the training corpus is
    * never re-read. The artifact is one ≤ 4097-row parquet. */
  def t19CostsWrite(s: SparkSession, dir: String, path: String): Unit =
    dsirCosts(dsirFeats(Tables.documents(s, dir).select("doc_id", "lang", "text"))
        .localCheckpoint(), "en")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Score a (doc_id, lang, text) batch against a stored cost frame. */
  def t19WeightsFrom(s: SparkSession, path: String, batch: DataFrame): DataFrame =
    dsirScore(dsirFeats(batch), Tables.parquet(s, path))

  /** t19: DATA SELECTION VIA IMPORTANCE RESAMPLING weights — the DSIR
    * estimator (Xie et al. 2023, arXiv:2302.03169): score each raw
    * document by how much more likely its hashed word-bigram features
    * are under a TARGET distribution than under the raw-corpus
    * distribution, `w(x) = Σ_b count_b(x) · ln(p̂_tgt(b)/p̂_raw(b))`
    * with add-1 smoothing over [[DsirBuckets]] hashed buckets. A
    * pipeline then samples raw docs ∝ exp(w) (t16's hash-ppm residual
    * machinery) to shift the corpus toward the target domain — here the
    * `lang = 'en'` slice stands in for the paper's Wikipedia target
    * (the reference analogue is its curated train-data upload,
    * controllers/customTrainDataController.js:21-47: the hand-picked
    * corpus IS a target distribution).
    *
    * Determinism contract (the t17 pattern): the ONLY float ops are one
    * exact-BIGINT-ratio double division + one ln + one multiply + one
    * floor per DISTINCT bucket (≤ 4096 rows), after which everything is
    * exact integer arithmetic — per-doc sums are order-independent and
    * cross-engine hash-stable; mean_micro floors an exact double
    * division (both engines floor, no `div`-vs-`//` negative-truncation
    * hazard — weights CAN be negative).
    *
    * Scale: one (doc,bucket)-keyed map-combined count off the scan is
    * the only corpus-sized shuffle; both distribution rollups reuse that
    * exchange; the cost frame is bucket-bound (≤ 4096 rows) and
    * BROADCAST back, so scoring is map-side — the corpus never shuffles
    * a second time. Hashing is the codegen'd [[graft.functions.Md5PrefixMod]]. */
  def t19DsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(s, dir).select("doc_id", "lang", "text"), "en")

  lazy val t19Sql: String =
    s"""WITH feats AS (
       | SELECT doc_id, lang,
       |  ('0x' || substr(md5(bg), 1, 15))::bigint % $DsirBuckets AS bucket,
       |  count(*) AS cnt
       | FROM (
       |  SELECT doc_id, lang,
       |   unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg
       |  FROM (SELECT doc_id, lang, regexp_extract_all(lower(text), '$WordRe') AS w
       |        FROM documents)
       |  WHERE len(w) >= 2)
       | GROUP BY 1, 2, 3),
       |rawd AS (SELECT bucket, sum(cnt) AS cr FROM feats GROUP BY bucket),
       |tgt AS (SELECT bucket, sum(cnt) AS ct FROM feats WHERE lang = 'en' GROUP BY bucket),
       |tot AS (SELECT (SELECT sum(cr) FROM rawd) AS rtot,
       |               (SELECT coalesce(sum(ct), 0) FROM tgt) AS ttot),
       |costs AS (
       | SELECT r.bucket,
       |  cast(floor(ln(
       |    (cast(coalesce(t.ct, 0) + 1 AS double) * cast(tot.rtot + $DsirBuckets AS double)) /
       |    (cast(r.cr + 1 AS double) * cast(tot.ttot + $DsirBuckets AS double))) * 1e6) AS bigint) AS cost_micro
       | FROM rawd r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot)
       |SELECT f.doc_id,
       | cast(sum(f.cnt) AS bigint) AS n_bigrams,
       | cast(sum(f.cnt * c.cost_micro) AS bigint) AS weight_micro,
       | cast(floor(cast(sum(f.cnt * c.cost_micro) AS double) / sum(f.cnt)) AS bigint) AS mean_micro
       |FROM feats f JOIN costs c USING (bucket)
       |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin

  // ---- t25: domain blocklist + bad-word screen ----

  /** Blocked source domains (the C4/RefinedWeb URL-blocklist analogue —
    * the corpus carries `source` as its domain column). */
  val BlockedSources: Seq[String] = Seq("src3", "src13")

  /** Screened-out vocabulary; a production list is the same broadcast
    * shape three orders of magnitude longer. */
  val BadWords: Seq[String] = Seq("slow", "dup")

  /** Minimum word count and bad-word ratio cutoff (ppm-exact: a doc is
    * dropped when bad_words/words ≥ 10%, checked as the integer
    * comparison bad*10 ≥ words — no float ratio anywhere). */
  val ScreenMinTok = 10L

  /** Per-document first-failing-rule verdict — ONE definition shared by
    * t25 (batch rollup), p3's keep gate, and
    * [[graft.streaming.StreamingScreen]] (the at-ingest deployment
    * shape): blocked domain beats too-short beats bad-word ratio, else
    * 'kept'. Pure row-local column — safe in any micro-batch. */
  def screenReason(source: Column, text: Column): Column = {
    val tok = size(words(text)).cast("long")
    val bad = BadWords.map(w =>
      regexp_count(lower(text), lit(s"\\b$w\\b")).cast("long")).reduce(_ + _)
    when(source.isin(BlockedSources: _*), "blocked_source")
      .when(tok < ScreenMinTok, "too_short")
      .when(bad * 10L >= tok, "badword")
      .otherwise("kept")
  }

  /** t25: the DOMAIN + CONTENT SCREEN every crawl pipeline runs before
    * anything expensive (C4, Raffel et al. arXiv:1910.10683 §2.2 —
    * blocklist-URL and bad-word filters; RefinedWeb, Penedo et al.
    * arXiv:2306.01116 §3.1 URL filtering): classify every document into
    * its FIRST failing rule — blocked source domain, too short, or
    * bad-word ratio ≥ 10% — or 'kept', and report per (source, reason)
    * counts with an order-independent doc_id checksum as the audit
    * artifact. Precedence matters (a short doc on a blocked domain
    * counts against the domain, the cheapest-to-evaluate rule), so the
    * verdict is a single CASE, not independent flags — this is the
    * rule-attribution table a data team reads to see WHY mass
    * disappeared.
    *
    * Scale shape: blocklist and bad-word vocabulary ride literal
    * predicates (a production-sized list broadcasts; same plan), the
    * screen is MAP-ONLY on the scan, and the report is one
    * group-count-bound agg (≤ sources × 4 rows). The ratio gate is
    * exact integer arithmetic, so the DuckDB twin agrees bit-for-bit. */
  def t25DomainScreen(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "source", "text")
      .withColumn("reason", screenReason(col("source"), col("text")))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_checksum"))
      .orderBy("source", "reason")

  val t25Sql: String = {
    val badHits = BadWords.map(w =>
      s"cast(len(regexp_extract_all(lower(text), '\\b$w\\b')) AS bigint)")
      .mkString(" + ")
    val blocked = BlockedSources.map(x => s"'$x'").mkString(", ")
    s"""WITH m AS (
       | SELECT doc_id, source,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok,
       |  $badHits AS bad
       | FROM documents),
       |v AS (
       | SELECT doc_id, source,
       |  CASE WHEN source IN ($blocked) THEN 'blocked_source'
       |       WHEN tok < $ScreenMinTok THEN 'too_short'
       |       WHEN bad * 10 >= tok THEN 'badword'
       |       ELSE 'kept' END AS reason
       | FROM m)
       |SELECT source, reason, count(*) AS n_docs,
       | cast(sum(doc_id) AS bigint) AS id_checksum
       |FROM v GROUP BY source, reason ORDER BY source, reason""".stripMargin
  }

  // ---- t29: C4 line-rule filter ----

  /** A kept line needs at least this many whitespace words (C4 §2.2:
    * "only retained lines that contained at least 5 words"). */
  val C4MinWords = 5

  /** A kept page needs at least this many surviving sentences (C4 §2.2:
    * "discarded any page with fewer than 3 sentences"). */
  val C4MinSentences = 3

  /** (modulus, planted lines) — the doc_id-keyed page pathologies, each
    * exercising exactly one rule: %2 adds two extra KEPT sentences (so
    * odd ids fail the 3-sentence page rule), %3 a javascript line that
    * passes every other line rule, %4 a punctuation-less line that
    * passes every other line rule, %7 a lorem-ipsum sentence (line-
    * kept, page-dropped), %11 a code fragment (page-dropped via '{'). */
  private val C4Plants: Seq[(Int, String)] = Seq(
    2 -> "this page has useful verified content indeed.\nthe quick brown fox jumps over the dog.",
    3 -> "please enable javascript to view this site.",
    4 -> "click here for more information and offers",
    7 -> "lorem ipsum dolor sit amet consectetur adipiscing.",
    11 -> "function() { return 0; }")

  /** t29: the C4 LINE-RULE quality filter (Raffel et al. 1910.10683
    * §2.2) — the third member of the published rule families next to
    * t8 (Gopher document statistics) and t20 (CCNet model-based
    * buckets), and the rule set d10's line-DEDUP pass is usually paired
    * with: keep a line iff it ends in terminal punctuation, has ≥
    * [[C4MinWords]] words, and does not mention javascript; keep the
    * page iff ≥ [[C4MinSentences]] lines survive and the page contains
    * neither '{' nor 'lorem ipsum'. Output per page: line counts, the
    * page verdict, and an md5 fingerprint of the surviving text (the
    * d10 reconstruction contract).
    *
    * The corpus is single-line word soup, so the page fixture plants
    * each pathology deterministically by doc_id ([[C4Plants]]),
    * mirrored in the oracle.
    *
    * Scale: a pure per-row map stage — the line split, rule lambdas,
    * and fingerprint all run inside one codegen'd projection with
    * nothing shuffled but the presentation sort; at 100 TB this is a
    * scan-bound pass like t8, and the verdict column is what the
    * pipeline's next stage filters on. */
  /** The planted page expression (over `doc_id`/`text`). */
  private def c4Page: Column =
    C4Plants.foldLeft(concat(col("text"), lit(".\nshort line"))) {
      case (acc, (m, txt)) =>
        when(col("doc_id") % m === 0, concat(acc, lit("\n" + txt))).otherwise(acc)
    }

  /** Line-rule survivors of a page column (trimmed kept lines). */
  private def c4Kept(page: Column): Column =
    filter(transform(split(page, "\n"), t => trim(t)), t =>
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(t, "\\s+")) >= C4MinWords &&
        !lower(t).contains("javascript"))

  /** Page-rule verdict of a page column given its kept lines. */
  private def c4PageKept(page: Column, kept: Column): Column =
    size(kept) >= C4MinSentences && !page.contains("{") &&
      !lower(page).contains("lorem ipsum")

  def t29C4Filter(s: SparkSession, dir: String): DataFrame = {
    val lines = split(col("page"), "\n")
    val keptArr = c4Kept(col("page"))
    Tables.documents(s, dir).select(col("doc_id"), c4Page.as("page"))
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(keptArr).cast("long").as("n_kept"),
        when(c4PageKept(col("page"), keptArr), 1L).otherwise(0L).as("page_kept"),
        when(size(keptArr) > 0,
          md5(array_join(keptArr, "\n").cast("binary"))).as("kept_fp"))
      .orderBy("doc_id")
  }

  /** The C4-CLEAN corpus: kept pages reconstructed from their surviving
    * lines — the frame the downstream prep pipeline (p5: tokenize →
    * pack → shard) consumes. */
  private[operators] def c4Clean(s: SparkSession, dir: String): DataFrame = {
    val keptArr = c4Kept(col("page"))
    Tables.documents(s, dir).select(col("doc_id"), c4Page.as("page"))
      .filter(c4PageKept(col("page"), keptArr))
      .select(col("doc_id"), array_join(keptArr, "\n").as("text"))
  }

  /** The page + line-survivor CTEs (`c4page`, `c4k`) and the page
    * verdict predicate — shared by t29's oracle and p5's. */
  private[operators] lazy val c4CtesSql: String = {
    def sqlLit(s: String): String =
      "'" + s.replace("\n", "' || chr(10) || '") + "'"
    val page = C4Plants.foldLeft("text || '.' || chr(10) || 'short line'") {
      case (acc, (m, txt)) =>
        s"CASE WHEN doc_id % $m = 0 THEN ($acc) || chr(10) || ${sqlLit(txt)} ELSE ($acc) END"
    }
    s"""c4page AS (SELECT doc_id, $page AS page FROM documents),
       |c4k AS (
       | SELECT doc_id, page,
       |  len(string_split(page, chr(10))) AS n_lines,
       |  list_filter(list_transform(string_split(page, chr(10)), x -> trim(x)),
       |    t -> right(t, 1) IN ('.', '!', '?', '"')
       |     AND len(string_split_regex(t, '\\s+')) >= $C4MinWords
       |     AND NOT contains(lower(t), 'javascript')) AS kept
       | FROM c4page)""".stripMargin
  }

  private[operators] val c4PageKeptSql: String =
    s"len(kept) >= $C4MinSentences AND NOT contains(page, '{')" +
      " AND NOT contains(lower(page), 'lorem ipsum')"

  lazy val t29Sql: String =
    s"""WITH $c4CtesSql
       |SELECT doc_id,
       | cast(n_lines AS bigint) AS n_lines,
       | cast(len(kept) AS bigint) AS n_kept,
       | cast(CASE WHEN $c4PageKeptSql THEN 1 ELSE 0 END AS bigint) AS page_kept,
       | CASE WHEN len(kept) > 0 THEN md5(array_to_string(kept, chr(10))) END AS kept_fp
       |FROM c4k ORDER BY doc_id""".stripMargin

  // ---- t35: distribution-drift report (LM scored across snapshots) ----

  /** t35: DISTRIBUTION DRIFT between corpus snapshots — d22 reports
    * WHAT changed and p7 gates on mass; this measures how far the
    * token DISTRIBUTION moved: train t17's unigram LM on snapshot A
    * (the promoted corpus), score BOTH snapshots under it, and report
    * per language the mean surprisal of each side and the drift delta.
    * A crawl that silently shifted topic, language mix, or boilerplate
    * shows mean_B pulling away from mean_A even when d22's row churn
    * looks ordinary (Wenzek et al. 2020's LM-filtering premise, turned
    * into a monitoring signal). Unseen-in-A tokens cost the ctf=1
    * sentinel — t17LmWrite's fallback discipline.
    *
    * Determinism: the t17 contract — ONE ln → multiply → floor per
    * DISTINCT A-vocabulary term (+ the sentinel), exact integer
    * arithmetic after; per-language surprisal sums ride decimal(38,0)
    * (hugeint in the oracle) so no mass overflows; means are integer
    * division.
    *
    * Scale: the A-side ctf rollup and each side's (lang, term) count
    * are map-combined vocabulary-bound shuffles off one scan each; the
    * cost join is vocabulary-bound; the report is |langs|-bound.
    * Nothing corpus-text-sized moves. */
  def t35LmDrift(s: SparkSession, dir: String): DataFrame = {
    val (snapA, snapB) = Corpus.oraclePair(s, dir)
    lmDriftFrames(snapA, snapB)
  }

  /** The drift core over ANY two (doc_id, text, lang) snapshots — the
    * public API; [[t35LmDrift]] binds the oracle's derived pair. */
  def lmDriftFrames(snapA: DataFrame, snapB: DataFrame): DataFrame = {
    val ctf = snapA
      .select(explode(words(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("ctf"))
    val total = ctf.agg(sum(col("ctf")).as("total"))
    def score(snap: DataFrame, side: String): DataFrame =
      snap.select(col("lang"), explode(words(col("text"))).as("term"))
        .filter(col("term").isNotNull)
        .groupBy("lang", "term").agg(count(lit(1)).as("tf"))
        .join(ctf, Seq("term"), "left")
        .crossJoin(broadcast(total))
        .withColumn("cost_micro",
          floor(log(col("total").cast("double") / coalesce(col("ctf"), lit(1L))) * 1e6))
        .groupBy("lang")
        .agg(sum(col("tf")).as(s"tokens_$side"),
          sum((col("tf") * col("cost_micro")).cast("decimal(38,0)")).as(s"sur_$side"))
    score(snapA, "a").join(score(snapB, "b"), Seq("lang"), "full_outer")
      .na.fill(0L, Seq("tokens_a", "tokens_b"))
      .select(col("lang"),
        col("tokens_a"), col("tokens_b"),
        when(col("tokens_a") > 0, expr("CAST(sur_a DIV tokens_a AS BIGINT)"))
          .otherwise(lit(0L)).as("mean_a_micro"),
        when(col("tokens_b") > 0, expr("CAST(sur_b DIV tokens_b AS BIGINT)"))
          .otherwise(lit(0L)).as("mean_b_micro"))
      .withColumn("drift_micro", col("mean_b_micro") - col("mean_a_micro"))
      .orderBy("lang")
  }

  /** == Corpus.ChangedSuffix, duplicated as a LOCAL literal: Corpus's
    * own init references Quality vals, so a Quality val interpolating
    * Corpus.ChangedSuffix can observe the not-yet-assigned null during
    * the object-initialization cycle (it DID, in the full Verify sweep
    * — the oracle SQL captured the string "null"). Equality is pinned
    * by LmDriftSpec at runtime, when both objects are initialized. */
  private[operators] val PairChangedSuffix = " updated content v2"

  val t35Sql: String =
    s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
       |a AS (SELECT lang, text FROM d WHERE doc_id % 10 != 7),
       |b AS (
       | SELECT lang, CASE WHEN doc_id % 6 = 0
       |   THEN text || '$PairChangedSuffix' ELSE text END AS text
       | FROM d WHERE doc_id % 9 != 4),
       |ta AS (SELECT lang, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term FROM a),
       |tb AS (SELECT lang, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term FROM b),
       |ctf AS (SELECT term, count(*) AS ctf FROM ta GROUP BY 1),
       |tot AS (SELECT count(*) AS total FROM ta),
       |sa AS (
       | SELECT lang, sum(tf) AS tokens_a, sum(tf * cost) AS sur_a
       | FROM (SELECT lang, term, count(*) AS tf FROM ta GROUP BY 1, 2) g
       |  LEFT JOIN ctf USING (term) CROSS JOIN tot,
       |  LATERAL (SELECT cast(floor(ln(cast(total AS double) / coalesce(ctf, 1)) * 1e6) AS bigint) AS cost) c
       | GROUP BY lang),
       |sb AS (
       | SELECT lang, sum(tf) AS tokens_b, sum(tf * cost) AS sur_b
       | FROM (SELECT lang, term, count(*) AS tf FROM tb GROUP BY 1, 2) g
       |  LEFT JOIN ctf USING (term) CROSS JOIN tot,
       |  LATERAL (SELECT cast(floor(ln(cast(total AS double) / coalesce(ctf, 1)) * 1e6) AS bigint) AS cost) c
       | GROUP BY lang)
       |SELECT coalesce(sa.lang, sb.lang) AS lang,
       | cast(coalesce(tokens_a, 0) AS bigint) AS tokens_a,
       | cast(coalesce(tokens_b, 0) AS bigint) AS tokens_b,
       | cast(CASE WHEN coalesce(tokens_a, 0) > 0 THEN sur_a // tokens_a ELSE 0 END AS bigint) AS mean_a_micro,
       | cast(CASE WHEN coalesce(tokens_b, 0) > 0 THEN sur_b // tokens_b ELSE 0 END AS bigint) AS mean_b_micro,
       | cast(CASE WHEN coalesce(tokens_b, 0) > 0 THEN sur_b // tokens_b ELSE 0 END
       |    - CASE WHEN coalesce(tokens_a, 0) > 0 THEN sur_a // tokens_a ELSE 0 END AS bigint) AS drift_micro
       |FROM sa FULL OUTER JOIN sb ON sa.lang = sb.lang
       |ORDER BY lang""".stripMargin

  // ---- t36: Heaps-law vocabulary growth curve ----

  /** t36's snapshot grid, in sixteenths of the doc_id range. */
  val HeapsSixteenths: Seq[Int] = Seq(1, 2, 4, 8, 16)

  /** t36: HEAPS-LAW VOCABULARY GROWTH — distinct-vocabulary size at
    * nested corpus prefixes (1/16, 1/8, 1/4, 1/2, all of the doc_id
    * range), with exact doc and token masses per snapshot. The curve
    * every tokenizer-budget and dedup-planning discussion starts from:
    * sublinear growth (Heaps' V ≈ K·nᵝ) is the empirical fact that
    * makes distinct-word frames broadcastable (t23's Zipf bound) —
    * this measures it on the corpus instead of assuming it. Prefixes
    * key on doc_id THRESHOLDS (a snapshot ledger, the d22 framing),
    * not on a global row_number — ordering by id needs no global sort
    * at any scale.
    *
    * Exactness: pure integer counts; thresholds are (max+1)·k DIV 16
    * − 1 (positive floor division, both engines).
    *
    * Plan: the corpus tokenizes ONCE into two bounded frames — the
    * per-word first-appearance frame (min-combined word shuffle,
    * vocab-bound) and the per-doc token-count frame (map-only) — and
    * the 5-row threshold grid (derived from a one-row max, broadcast)
    * cross-joins each bounded frame with a row-local ≤ filter; both
    * rollups are |grid|-bound. The fact is scanned once, shuffled only
    * at vocab granularity. */
  def t36HeapsVocab(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      words(col("text")).as("ws"))
    val grid = Tables.documents(s, dir).agg(max("doc_id").as("mid"))
      .select(explode(array(HeapsSixteenths.map(lit(_)): _*)).as("sixteenth"),
        col("mid"))
      .select(col("sixteenth"),
        expr("(mid + 1) * sixteenth DIV 16 - 1").as("t"))
    val docStats = d.select(col("doc_id"), size(col("ws")).cast("long").as("ntok"))
      .crossJoin(broadcast(grid))
      .filter(col("doc_id") <= col("t"))
      .groupBy("sixteenth")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
    val vocabAt = d.select(col("doc_id"), explode(col("ws")).as("word"))
      .groupBy("word").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(grid))
      .filter(col("fd") <= col("t"))
      .groupBy("sixteenth").agg(count(lit(1)).as("vocab_size"))
    docStats.join(vocabAt, Seq("sixteenth"))
      .select(col("sixteenth").cast("int").as("sixteenth"), col("n_docs"),
        col("n_tokens"), col("vocab_size"))
      .orderBy("sixteenth")
  }

  val t36Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS mid FROM documents),
       |grid AS (
       | SELECT k AS sixteenth, (mid + 1) * k // 16 - 1 AS t
       | FROM mx, (VALUES (1), (2), (4), (8), (16)) v(k)),
       |dtok AS (
       | SELECT doc_id,
       |  len(regexp_extract_all(lower(text), '$WordRe')) AS ntok
       | FROM documents),
       |wfirst AS (
       | SELECT word, min(doc_id) AS fd
       | FROM (SELECT doc_id,
       |        unnest(regexp_extract_all(lower(text), '$WordRe')) AS word
       |       FROM documents)
       | GROUP BY 1),
       |ds AS (
       | SELECT sixteenth, count(*) AS n_docs, sum(ntok) AS n_tokens
       | FROM grid JOIN dtok ON doc_id <= t GROUP BY 1),
       |vs AS (
       | SELECT sixteenth, count(*) AS vocab_size
       | FROM grid JOIN wfirst ON fd <= t GROUP BY 1)
       |SELECT cast(sixteenth AS int) AS sixteenth,
       | cast(n_docs AS bigint) AS n_docs,
       | cast(n_tokens AS bigint) AS n_tokens,
       | cast(vocab_size AS bigint) AS vocab_size
       |FROM ds JOIN vs USING (sixteenth)
       |ORDER BY sixteenth""".stripMargin
}
