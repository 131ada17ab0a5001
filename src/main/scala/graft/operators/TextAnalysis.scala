package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID,
  * fingerprinting, chunking.
  *
  * Everything is built from codegen'd `functions._` primitives
  * (regexp_extract_all / transform / sequence) — no UDFs — so the whole
  * stage fuses into one generated loop per partition and scales linearly
  * with the corpus.
  *
  * Determinism: ratios divide exact ints (identical doubles in any
  * engine, no rounding needed); fingerprints are md5 of normalized text.
  */
object TextAnalysis {

  /** The word analyzer every lexical operator shares (BM25, quality,
    * corpus, sketches): lowercase runs of [[WordRe]]. The DuckDB twins
    * interpolate the same constant, so both engines tokenize alike
    * (group 0 = the full match; Spark defaults to group 1, DuckDB to 0). */
  private[graft] final val WordRe = "[a-z0-9]+"

  private[graft] def words(text: Column): Column =
    regexp_extract_all(lower(text), lit(WordRe), lit(0))

  /** whitespace-token count — matches of \S+. regexp_count never
    * materializes the match array (t1 went 4x faster than the
    * size(regexp_extract_all(...)) formulation). */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish subword count: letter runs, digit runs, single symbols. */
  def subTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  private def matchCount(text: Column, re: String): Column =
    regexp_count(text, lit(re))

  /** t1: per-language corpus token statistics. */
  def t1TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("lang"), col("text"))
      .select(col("lang"), tokenCount(col("text")).as("toks"), subTokenCount(col("text")).as("subtoks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
           sum(col("toks")).as("sum_tokens"),
           max(col("toks")).as("max_tokens"),
           (sum(col("toks")).cast("double") / count(lit(1))).as("avg_tokens"),
           sum(col("subtoks")).as("sum_subtokens"))
      .orderBy("lang")

  /** t2: per-document quality score from length / punctuation / stopword
    * ratios (the heuristics a 100 TB pretraining filter runs per doc). */
  def t2QualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
      .filter(length(col("text")) > 0)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .withColumn("n_punct", matchCount(col("text"), "[.,!?;:]").cast("long"))
      .withColumn("n_stop", matchCount(col("text"), "\\b(the|a|of|and|to|in|is)\\b").cast("long"))
    d.withColumn("punct_ratio", col("n_punct").cast("double") / col("n_chars"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("score",
        lit(0.3) * least(col("n_tokens").cast("double") / 100d, lit(1d)) +
        lit(0.4) * (lit(1d) - col("punct_ratio")) +
        lit(0.3) * least(col("stop_ratio") * 5d, lit(1d)))
      .filter(col("score") > 0.5)
      .select("doc_id", "n_chars", "n_tokens", "punct_ratio", "stop_ratio", "score")
      .orderBy("doc_id")
  }

  private val langProfiles: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|mit|von|zu)\\b",
    "en" -> "\\b(the|and|of|to|in|is|for|with)\\b",
    "es" -> "\\b(el|la|los|de|que|es|para|con)\\b",
    "fr" -> "\\b(le|les|et|est|pour|dans|une|du)\\b")

  /** t3: stopword-profile language-ID — argmax of profile hit counts with
    * alphabetical tiebreak, compared against the labeled lang. */
  def t3LangId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      lower(col("text")).as("lc")) // lowercase once, not once per profile
    val counted = langProfiles.foldLeft(d) { case (df, (l, re)) =>
      df.withColumn(s"c_$l", matchCount(col("lc"), re))
    }
    // CASE chain in alphabetical order = deterministic argmax tiebreak
    val pred = langProfiles.map(_._1).foldRight(lit("und")) { case (l, el) =>
      val isMax = langProfiles.map(o => col(s"c_$l") >= col(s"c_${o._1}")).reduce(_ && _)
      when(isMax, lit(l)).otherwise(el)
    }
    counted.withColumn("predicted", pred)
      .groupBy("lang", "predicted").agg(count(lit(1)).as("docs"))
      .orderBy("lang", "predicted")
  }

  /** t34: the language-ID SCORECARD — per-language precision / recall /
    * F1 in exact integer ppm, derived from t3's confusion grid (the
    * evaluation a pipeline runs before trusting t3's labels to route a
    * 100 TB corpus into per-language buckets). One corpus pass builds
    * the (true, predicted) grid — the same map-combined langs²-bound
    * aggregate as t3 — and every metric is arithmetic on that TINY
    * frame: support per true lang, prediction mass per label, the
    * diagonal, then precision = tp/pred, recall = tp/support and
    * F1 = 2·tp/(support+pred) as exact integer ppm (F1's harmonic mean
    * reduces to that single division — no float in any engine). The
    * joins after the grid are label-bound; AQE broadcasts them. */
  def t34LangidScorecard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("lang"),
      lower(col("text")).as("lc"))
    val counted = langProfiles.foldLeft(d) { case (df, (l, re)) =>
      df.withColumn(s"c_$l", matchCount(col("lc"), re))
    }
    val pred = langProfiles.map(_._1).foldRight(lit("und")) { case (l, el) =>
      val isMax = langProfiles.map(o => col(s"c_$l") >= col(s"c_${o._1}")).reduce(_ && _)
      when(isMax, lit(l)).otherwise(el)
    }
    val grid = counted.withColumn("predicted", pred)
      .groupBy("lang", "predicted").agg(count(lit(1)).as("docs"))
    val byTrue = grid.groupBy("lang").agg(sum("docs").as("support"))
    val byPred = grid.groupBy("predicted").agg(sum("docs").as("pred_total"))
    val diag = grid.filter(col("lang") === col("predicted"))
      .select(col("lang"), col("docs").as("tp"))
    byTrue
      .join(diag, Seq("lang"), "left")
      .join(byPred.withColumnRenamed("predicted", "lang"), Seq("lang"), "left")
      .na.fill(0L, Seq("tp", "pred_total"))
      .select(col("lang"), col("support"), col("pred_total"), col("tp"),
        when(col("pred_total") > 0, expr("tp * 1000000L DIV pred_total"))
          .otherwise(lit(0L)).as("precision_ppm"),
        expr("tp * 1000000L DIV support").as("recall_ppm"),
        expr("2L * tp * 1000000L DIV (support + pred_total)").as("f1_ppm"))
      .orderBy("lang")
  }

  /** t4: document fingerprint — md5 of whitespace-normalized lowercase
    * text (the exact-dedup canonical key). */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")))
      .select("doc_id", "fp")
      .orderBy("doc_id")

  val ChunkSize = 200
  val ChunkStep = 150

  /** t5: fixed-size/overlap chunking (the reference's
    * RecursiveCharacterTextSplitter role, customTrainDataController.js:62)
    * as a generated explode — no shuffle at all, pure map stage. */
  def t5Chunking(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .filter(length(col("text")) > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0), ceil(length(col("text")).cast("double") / ChunkStep).cast("int") - 1)))
      .withColumn("chunk", expr(s"substring(text, chunk_idx * $ChunkStep + 1, $ChunkSize)"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"), md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** t6: separator-aware recursive chunking (the reference's actual
    * splitter semantics — see graft.functions.RecursiveChunks). Chunk
    * text is engine-defined (separator choices), so this is
    * spec-validated (coverage, size bounds, boundary preference,
    * determinism) rather than SQL-oracled. */
  def t6RecursiveChunk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.RecursiveChunksF
    Tables.documents(s, dir).select("doc_id", "text")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(RecursiveChunksF.chunks(col("text"), 200, 40)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"), md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  // PII patterns kept to syntax identical in Java regex and RE2
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ ]+"

  /** t7: PII scrubbing — redact emails/URLs, report counts + redacted
    * fingerprint. The corpus gets deterministic planted PII (same
    * derivation in the oracle) since the synthetic text contains none.
    * Pure map stage: regexp_count + regexp_replace, both codegen'd. */
  def t7Redact(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com or http://site"),
            col("doc_id"), lit(".example/page")))
          .otherwise(col("text")))
    base
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_urls", regexp_count(regexp_replace(col("text"), EmailRe, "[EMAIL]"), lit(UrlRe)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text"), EmailRe, "[EMAIL]"), UrlRe, "[URL]"))
      .select(col("doc_id"), col("n_emails"), col("n_urls"),
        md5(col("redacted").cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val t7Sql: String =
    """WITH corpus AS (
      | SELECT doc_id, CASE WHEN doc_id % 5 = 0
      |   THEN text || ' contact user' || doc_id || '@example.com or http://site' || doc_id || '.example/page'
      |   ELSE text END AS text
      | FROM documents)
      |SELECT doc_id,
      | len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      | len(regexp_extract_all(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), 'https?://[^ ]+')) AS n_urls,
      | md5(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), 'https?://[^ ]+', '[URL]', 'g')) AS redacted_md5
      |FROM corpus ORDER BY doc_id""".stripMargin

  // ---- oracle SQL ----

  val t1Sql: String =
    """SELECT lang, count(*) AS docs,
      | cast(sum(len(regexp_extract_all(text, '\S+'))) AS bigint) AS sum_tokens,
      | max(len(regexp_extract_all(text, '\S+'))) AS max_tokens,
      | cast(sum(len(regexp_extract_all(text, '\S+'))) AS double) / count(*) AS avg_tokens,
      | cast(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS bigint) AS sum_subtokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val t2Sql: String =
    """WITH d AS (
      | SELECT doc_id, cast(length(text) AS bigint) AS n_chars,
      |  cast(len(regexp_extract_all(text, '\S+')) AS bigint) AS n_tokens,
      |  cast(len(regexp_extract_all(text, '[.,!?;:]')) AS bigint) AS n_punct,
      |  cast(len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS bigint) AS n_stop
      | FROM documents WHERE length(text) > 0),
      |r AS (
      | SELECT doc_id, n_chars, n_tokens,
      |  cast(n_punct AS double) / n_chars AS punct_ratio,
      |  cast(n_stop AS double) / n_tokens AS stop_ratio
      | FROM d)
      |SELECT doc_id, n_chars, n_tokens, punct_ratio, stop_ratio,
      | 0.3 * least(cast(n_tokens AS double) / 100, 1.0)
      |  + 0.4 * (1.0 - punct_ratio) + 0.3 * least(stop_ratio * 5, 1.0) AS score
      |FROM r
      |WHERE 0.3 * least(cast(n_tokens AS double) / 100, 1.0)
      |  + 0.4 * (1.0 - punct_ratio) + 0.3 * least(stop_ratio * 5, 1.0) > 0.5
      |ORDER BY doc_id""".stripMargin

  val t3Sql: String = {
    // single-quoted DuckDB literals pass backslashes through verbatim, so
    // the Java regex text is reusable as an RE2 literal directly
    val counts = langProfiles.map { case (l, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS c_$l"
    }.mkString(",\n  ")
    val langs = langProfiles.map(_._1)
    val caseChain = langs.map { l =>
      val cond = langs.map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n   ", "\n   ", "\n   ELSE 'und'")
    s"""WITH c AS (
       | SELECT doc_id, lang,
       |  $counts
       | FROM documents)
       |SELECT lang, CASE$caseChain END AS predicted, count(*) AS docs
       |FROM c GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
  }

  val t34Sql: String = {
    val counts = langProfiles.map { case (l, re) =>
      s"len(regexp_extract_all(lower(text), '$re')) AS c_$l"
    }.mkString(",\n  ")
    val langs = langProfiles.map(_._1)
    val caseChain = langs.map { l =>
      val cond = langs.map(o => s"c_$l >= c_$o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n   ", "\n   ", "\n   ELSE 'und'")
    s"""WITH c AS (
       | SELECT doc_id, lang,
       |  $counts
       | FROM documents),
       |grid AS (
       | SELECT lang, CASE$caseChain END AS predicted, count(*) AS docs
       | FROM c GROUP BY 1, 2),
       |t AS (SELECT lang, sum(docs) AS support FROM grid GROUP BY 1),
       |p AS (SELECT predicted, sum(docs) AS pred_total FROM grid GROUP BY 1),
       |d AS (SELECT lang, docs AS tp FROM grid WHERE lang = predicted)
       |SELECT t.lang, cast(support AS bigint) AS support,
       | cast(coalesce(pred_total, 0) AS bigint) AS pred_total,
       | cast(coalesce(tp, 0) AS bigint) AS tp,
       | CASE WHEN coalesce(pred_total, 0) > 0
       |  THEN cast(coalesce(tp, 0) * 1000000 // pred_total AS bigint)
       |  ELSE 0 END AS precision_ppm,
       | cast(coalesce(tp, 0) * 1000000 // support AS bigint) AS recall_ppm,
       | cast(2 * coalesce(tp, 0) * 1000000 // (support + coalesce(pred_total, 0)) AS bigint) AS f1_ppm
       |FROM t LEFT JOIN p ON t.lang = p.predicted
       | LEFT JOIN d ON t.lang = d.lang
       |ORDER BY t.lang""".stripMargin
  }

  val t4Sql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  val t5Sql: String =
    s"""SELECT doc_id, i AS chunk_idx,
       | length(substr(text, i * $ChunkStep + 1, $ChunkSize)) AS chunk_len,
       | md5(substr(text, i * $ChunkStep + 1, $ChunkSize)) AS chunk_md5
       |FROM (SELECT doc_id, text,
       |   unnest(range(0, cast(ceil(length(text) / $ChunkStep.0) AS int))) AS i
       |  FROM documents WHERE length(text) > 0)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- t21/t22: exact BPE token counting + BPE-priced costing ----

  /** t21: EXACT BPE token count per document (reference:
    * trackUsageService.js:46-48 counts usage with tiktoken's BPE; t1 is
    * the whitespace approximation). The count is the codegen'd
    * [[graft.functions.BpeCount]] expression over the word array — a
    * MAP-ONLY pass (the merge table is compiled into the expression; a
    * production vocab would broadcast), so the operator adds zero
    * shuffles at any corpus size. */
  def t21BpeCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.BpeCountF.count(words(col("text"))).as("bpe_tokens"))
      .orderBy("doc_id")

  /** The DuckDB replica of the BPE merge loop, shared by t21/t22: words
    * become char-delimited symbol strings ('|t|h|e|'), and a recursive
    * CTE applies the same ordered merge table — `replace` merges
    * leftmost non-overlapping occurrences, and a rank only advances
    * once its rule reaches fixpoint (two occurrences sharing a
    * delimiter need a second pass — a string-encoding artifact; the
    * engine's scan handles it in one). Token count per word = final
    * delimiter count - 1; words dedup through a (doc, word, n) rollup
    * so the merge loop runs once per distinct word, mirroring the
    * engine-side memo. */
  private def bpeEncCte(corpusSql: String): String = {
    val mergeRows = graft.functions.BpeVocab.Merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '|$a|$b|', '|$a$b|')" }
      .mkString(", ")
    s"""merges(rank, pat, rep) AS (VALUES $mergeRows),
       |toks AS (
       | SELECT doc_id, lang, w, count(*) AS n FROM (
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '$WordRe')) AS w
       |  FROM ($corpusSql))
       | GROUP BY doc_id, lang, w),
       |enc(doc_id, lang, w, n, s, rank) AS (
       | SELECT doc_id, lang, w, n,
       |  '|' || array_to_string(string_split(w, ''), '|') || '|', 1
       | FROM toks
       | UNION ALL
       | SELECT doc_id, lang, w, n, replace(s, m.pat, m.rep),
       |  CASE WHEN replace(s, m.pat, m.rep) <> s THEN e.rank ELSE e.rank + 1 END
       | FROM enc e JOIN merges m ON m.rank = e.rank),
       |fin AS (
       | SELECT doc_id, lang, n,
       |  length(s) - length(replace(s, '|', '')) - 1 AS toks_w
       | FROM enc WHERE rank = (SELECT max(rank) + 1 FROM merges)),
       |perdoc AS (
       | SELECT doc_id, lang, cast(sum(n * toks_w) AS bigint) AS bpe_tokens
       | FROM fin GROUP BY doc_id, lang)""".stripMargin
  }

  lazy val t21Sql: String =
    s"""WITH RECURSIVE ${bpeEncCte("SELECT doc_id, lang, text FROM documents")}
       |SELECT d.doc_id, coalesce(p.bpe_tokens, 0) AS bpe_tokens
       |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** t22: the reference cost formula priced on EXACT BPE counts — the
    * q12 shape (broadcast price table, default price for unlisted
    * entries, openai-style /1000) with t21's counts as the token
    * source. `fr` is deliberately missing from the price table to
    * exercise the default row. Exact decimals; one rounding, at the
    * final double cast. */
  def t22BpeCost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prices = Seq(("en", 0.50), ("zh", 0.75), ("es", 0.25), ("de", 0.60))
      .toDF("plang", "price")
    Tables.documents(s, dir).select("lang", "text")
      .select(col("lang"),
        graft.functions.BpeCountF.count(words(col("text"))).as("toks"))
      .groupBy("lang").agg(sum(col("toks")).as("bpe_tokens"))
      .join(broadcast(prices), col("lang") === col("plang"), "left")
      .select(col("lang"), col("bpe_tokens"),
        (col("bpe_tokens").cast("decimal(18,2)")
          * coalesce(col("price"), lit(0.01)).cast("decimal(18,4)")
          * lit(0.001).cast("decimal(4,3)")).cast("double").as("cost"))
      .orderBy("lang")
  }

  lazy val t22Sql: String =
    s"""WITH RECURSIVE ${bpeEncCte("SELECT doc_id, lang, text FROM documents")},
       |perlang AS (
       | SELECT lang, cast(sum(bpe_tokens) AS bigint) AS bpe_tokens
       | FROM perdoc GROUP BY lang)
       |SELECT lang, bpe_tokens,
       | cast(cast(bpe_tokens AS decimal(18,2))
       |      * cast(coalesce(price, 0.01) AS decimal(18,4))
       |      * cast(0.001 AS decimal(4,3)) AS double) AS cost
       |FROM perlang LEFT JOIN (VALUES ('en',0.50),('zh',0.75),('es',0.25),
       |                               ('de',0.60)) AS p(plang, price)
       |  ON lang = plang
       |ORDER BY lang""".stripMargin

  // ---- t32: tokenizer fertility / compression report ----

  /** t32: per-language TOKENIZER FERTILITY report — the evaluation table
    * every multilingual tokenizer paper publishes (fertility = subword
    * tokens per word, e.g. mBERT/XLM-R analyses in Ács 2019 / Rust et
    * al. arXiv:2012.15613; compression = characters per token): for each
    * language, documents, words, EXACT BPE tokens (the t21 codegen'd
    * merge loop — same tokenizer the count/cost/encode family runs),
    * word characters, fertility and chars-per-token in exact integer
    * ppm. This is the artifact that decides whether a vocabulary is
    * re-trained before a pretraining run (a high-fertility language is
    * paying more sequence length per word of content — the t24 mixture
    * and t22 cost both shift with it).
    *
    * Determinism: counts are exact integers; the two ratios are integer
    * floor-divisions (`div`) of decimal(38,0) products — no float path,
    * overflow-free at any corpus size (the q42 receipt rule). DuckDB
    * mirrors with hugeint `//`.
    *
    * Shape: ONE map stage (BPE count + two regexp counts per doc) into a
    * lang-bound aggregate — scan-bandwidth-bound at 100 TB, zero joins;
    * the ratio arithmetic runs on the |langs|-row output. */
  def t32TokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("lang", "text")
      .select(col("lang"),
        graft.functions.BpeCountF.count(words(col("text"))).as("bpe"),
        regexp_count(lower(col("text")), lit(WordRe)).cast("long").as("nw"),
        length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("long").as("wc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"),
           sum("nw").as("n_words"),
           sum("bpe").cast("long").as("bpe_tokens"),
           sum("wc").as("word_chars"))
      .select(col("lang"), col("docs"), col("n_words"), col("bpe_tokens"),
        col("word_chars"),
        expr("cast((cast(bpe_tokens as decimal(38,0)) * 1000000) div nullif(n_words, 0) as bigint)")
          .as("fertility_ppm"),
        expr("cast((cast(word_chars as decimal(38,0)) * 1000000) div nullif(bpe_tokens, 0) as bigint)")
          .as("chars_per_token_ppm"))
      .orderBy("lang")

  lazy val t32Sql: String =
    s"""WITH RECURSIVE ${bpeEncCte("SELECT doc_id, lang, text FROM documents")},
       |base AS (
       | SELECT d.lang,
       |  len(regexp_extract_all(lower(d.text), '$WordRe')) AS nw,
       |  length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS wc,
       |  coalesce(p.bpe_tokens, 0) AS bpe
       | FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
       |agg AS (
       | SELECT lang, count(*) AS docs, cast(sum(nw) AS bigint) AS n_words,
       |  cast(sum(bpe) AS bigint) AS bpe_tokens, cast(sum(wc) AS bigint) AS word_chars
       | FROM base GROUP BY lang)
       |SELECT lang, docs, n_words, bpe_tokens, word_chars,
       | cast(cast(bpe_tokens AS hugeint) * 1000000 // nullif(n_words, 0) AS bigint) AS fertility_ppm,
       | cast(cast(word_chars AS hugeint) * 1000000 // nullif(bpe_tokens, 0) AS bigint) AS chars_per_token_ppm
       |FROM agg ORDER BY lang""".stripMargin

  // ---- t31: structured PII scan (t7's audit-grade extension) ----

  /** Planted PII fixture classes, keyed by doc_id (the t7/t29 planting
    * discipline — the synthetic corpus contains no organic PII, so each
    * detector class is planted deterministically and mirrored verbatim
    * in the oracle): %5 → email + two dashed phone numbers; %7 → one
    * valid IPv4 and one with an out-of-range octet (exercising octet
    * validation, not just the regex); %11 → a Luhn-VALID card number;
    * %13 → the same digits +1 (Luhn-invalid — exercising the checksum,
    * not just the digit-run regex). */
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val CardRe = "[0-9]{13,19}"

  /** t31: STRUCTURED PII SCAN — the audit t7's redaction pass is driven
    * by (BigScience ROOTS / FineWeb-class pipelines run exactly this
    * before release; the reference stores emails and card-bearing users
    * in Mongo, userController.js): per document, counts of emails,
    * dashed phone numbers, VALID IPv4 addresses (every octet ≤ 255 — an
    * out-of-range dotted quad is a version string, not PII), candidate
    * card-number digit runs, and LUHN-VALIDATED card numbers (the
    * checksum that separates a real PAN from a random digit run), plus
    * the has_pii verdict bit.
    *
    * Everything is one codegen'd map stage: regexp_count for the
    * count-only detectors, regexp_extract_all → higher-order
    * filter/forall with an `aggregate` fold for the Luhn checksum — no
    * UDFs, no joins, no shuffles before the presentation sort; at
    * 100 TB the scan streams at parquet-read speed (the t29 class).
    * Validation arithmetic is pure integers, so both engines agree
    * exactly. */
  def t31PiiScan(s: SparkSession, dir: String): DataFrame = {
    val ptext = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" reach user"), col("doc_id"),
          lit("@example.com or 555-867-5309 or 555-000-1234"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit(" node 10.0.0.42 peer 192.168.300.7")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" card 4539578763621486")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit(" card 4539578763621487")).otherwise(lit("")))
    val luhnValid = // reversed-index Luhn fold: odd positions as-is, even doubled (−9 past 9)
      """c -> aggregate(sequence(1, length(c)), 0, (a, i) ->
        | a + CASE WHEN i % 2 = 1 THEN ascii(substring(reverse(c), i, 1)) - 48
        |          ELSE CASE WHEN 2 * (ascii(substring(reverse(c), i, 1)) - 48) > 9
        |                    THEN 2 * (ascii(substring(reverse(c), i, 1)) - 48) - 9
        |                    ELSE 2 * (ascii(substring(reverse(c), i, 1)) - 48) END END) % 10 = 0"""
        .stripMargin
    Tables.documents(s, dir).select("doc_id", "text")
      .withColumn("ptext", ptext)
      .select(col("doc_id"),
        regexp_count(col("ptext"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("ptext"), lit(PhoneRe)).cast("long").as("n_phone"),
        // Spark's SQL string parser consumes backslash escapes, so the
        // regex backslashes double here; DuckDB's literal parser does
        // not, so t31Sql interpolates the raw pattern.
        expr(s"""size(filter(regexp_extract_all(ptext, '${Ipv4Re.replace("\\", "\\\\")}', 0),
                   p -> forall(split(p, '\\\\.'), o -> cast(o as int) <= 255)))""")
          .cast("long").as("n_ipv4_valid"),
        regexp_count(col("ptext"), lit(CardRe)).cast("long").as("n_card_seen"),
        expr(s"size(filter(regexp_extract_all(ptext, '$CardRe', 0), $luhnValid))")
          .cast("long").as("n_card_valid"))
      .withColumn("has_pii",
        (col("n_email") + col("n_phone") + col("n_ipv4_valid") + col("n_card_valid") > 0)
          .cast("int"))
      .orderBy("doc_id")
  }

  lazy val t31Sql: String = {
    val luhn =
      """list_sum(list_transform(range(1, length(c) + 1), i ->
        | CASE WHEN i % 2 = 1 THEN ascii(substr(reverse(c), i, 1)) - 48
        |      ELSE CASE WHEN 2 * (ascii(substr(reverse(c), i, 1)) - 48) > 9
        |                THEN 2 * (ascii(substr(reverse(c), i, 1)) - 48) - 9
        |                ELSE 2 * (ascii(substr(reverse(c), i, 1)) - 48) END END)) % 10 = 0"""
        .stripMargin
    s"""WITH corpus AS (
       | SELECT doc_id, text
       |  || CASE WHEN doc_id % 5 = 0
       |     THEN ' reach user' || doc_id || '@example.com or 555-867-5309 or 555-000-1234'
       |     ELSE '' END
       |  || CASE WHEN doc_id % 7 = 0 THEN ' node 10.0.0.42 peer 192.168.300.7' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 0 THEN ' card 4539578763621486' ELSE '' END
       |  || CASE WHEN doc_id % 13 = 0 THEN ' card 4539578763621487' ELSE '' END AS ptext
       | FROM documents),
       |scan AS (
       | SELECT doc_id,
       |  len(regexp_extract_all(ptext, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       |  len(regexp_extract_all(ptext, '$PhoneRe')) AS n_phone,
       |  len(list_filter(regexp_extract_all(ptext, '$Ipv4Re'),
       |      p -> len(list_filter(string_split(p, '.'), o -> cast(o AS int) > 255)) = 0)) AS n_ipv4_valid,
       |  len(regexp_extract_all(ptext, '$CardRe')) AS n_card_seen,
       |  len(list_filter(regexp_extract_all(ptext, '$CardRe'), c -> $luhn)) AS n_card_valid
       | FROM corpus)
       |SELECT doc_id, n_email, n_phone, n_ipv4_valid, n_card_seen, n_card_valid,
       | cast(n_email + n_phone + n_ipv4_valid + n_card_valid > 0 AS int) AS has_pii
       |FROM scan ORDER BY doc_id""".stripMargin
  }

  // ---- t23: distributed BPE merge TRAINING ----

  /** Merge rounds learned by t23. Kept small enough that every round is
    * guaranteed a non-empty argmax on every SF (the corpus vocabulary
    * always has ≥ 8 mergeable pairs), and so the unrolled DuckDB twin
    * stays a readable fixed-depth chain. */
  val BpeTrainRounds = 8

  /** t23: BPE merge-table TRAINING, distributed (Sennrich et al.
    * arXiv:1508.07909 `learn_bpe` — where t21 APPLIES a merge table,
    * this LEARNS one): each round counts all adjacent symbol pairs over
    * the corpus weighted by word frequency, takes the most frequent
    * pair (ties: lexicographically smallest, both engines agree on
    * ASCII), merges its left-to-right non-overlapping occurrences, and
    * repeats. Output: the learned table (rank, left_sym, right_sym,
    * pair_count) — the artifact t21's counting consumes. Pair positions
    * count overlapping occurrences (('a','a') in "aaa" counts twice),
    * matching the published get_stats.
    *
    * Scale shape — why this trains on 100 TB: the ONLY corpus-sized
    * pass is the first word-count aggregate; everything after runs on
    * the DISTINCT-word frame, which is Zipf-bounded (≤ a few million
    * rows for any natural-language corpus, independent of corpus
    * size — frequencies grow, the frame does not). Each round is then
    * one tiny pair-count shuffle + a TakeOrderedAndProject argmax
    * (never a driver collect; the winning pair rejoins as a one-row
    * broadcast), and the frame is localCheckpoint'd per round so the
    * 8-round loop keeps a flat plan (the s9/d7 iteration discipline).
    * The merge application is a fold (`aggregate`) over the symbol
    * array — sentinel-seeded so the left-to-right non-overlap rule
    * needs no lookahead: a pair just merged cannot chain because the
    * accumulator tail holds the MERGED symbol, which only re-matches
    * when it legitimately equals the left side again. */
  def t23BpeTrain(s: SparkSession, dir: String): DataFrame = {
    var vocab = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("n"))
      .localCheckpoint()
    var learned: List[DataFrame] = Nil
    for (r <- 1 to BpeTrainRounds) {
      val best = vocab.filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(syms)-2), i -> named_struct('a', syms[i], 'b', syms[i+1]))"
        )).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("pair_count"))
        .orderBy(desc("pair_count"), asc("a"), asc("b")).limit(1)
        .localCheckpoint()
      learned = best.select(lit(r).as("rank"), col("a").as("left_sym"),
        col("b").as("right_sym"), col("pair_count")) :: learned
      vocab = vocab
        .crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
        .select(expr(
          """filter(
            |  aggregate(syms, array(''),
            |    (acc, x) -> CASE WHEN element_at(acc, -1) = ma AND x = mb
            |                THEN concat(slice(acc, 1, size(acc)-1), array(concat(ma, mb)))
            |                ELSE concat(acc, array(x)) END),
            |  x -> x <> '')""".stripMargin).as("syms"),
          col("n"))
        .localCheckpoint()
    }
    learned.reverse.reduce(_ unionByName _).orderBy("rank")
  }

  /** The DuckDB twin: the same 8 rounds UNROLLED (training is
    * inherently iterative; a fixed K unrolls into a fixed-depth CTE
    * chain). Segmentations are t21's char-delimited strings; each
    * round's merge application is a per-round recursive CTE that
    * applies `replace` to fixpoint (two occurrences sharing a delimiter
    * need a second pass — the same string-encoding artifact bpeEncCte
    * documents). Every CTE is MATERIALIZED: seg/b feed 3 consumers
    * each, and without the hint DuckDB inlines them, re-evaluating the
    * whole prefix chain per consumer — exponential in rounds. */
  lazy val t23Sql: String = {
    val pat = "'|'||m.a||'|'||m.b||'|'"
    val rep = "'|'||m.a||m.b||'|'"
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         | SELECT pr.a AS a, pr.b AS b, cast(sum(n) AS bigint) AS pair_count FROM (
         |  SELECT n, unnest([{'a': l[i], 'b': l[i+1]} for i in range(1, len(l))]) AS pr
         |  FROM (SELECT n, string_split(trim(s, '|'), '|') AS l FROM seg${r - 1})
         | ) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         | SELECT a, b, pair_count FROM p$r ORDER BY pair_count DESC, a, b LIMIT 1),
         |segr$r(n, s) AS (
         | SELECT n, s FROM seg${r - 1}
         | UNION ALL
         | SELECT n, replace(s, $pat, $rep) FROM segr$r, b$r m
         | WHERE replace(s, $pat, $rep) <> s),
         |seg$r AS MATERIALIZED (
         | SELECT n, s FROM segr$r, b$r m
         | WHERE replace(s, $pat, $rep) = s)""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeTrainRounds)
      .map(r => s"SELECT $r AS rank, a AS left_sym, b AS right_sym, pair_count FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE seg0 AS MATERIALIZED (
       | SELECT '|' || array_to_string(string_split(w, ''), '|') || '|' AS s,
       |        cast(count(*) AS bigint) AS n
       | FROM (SELECT unnest(regexp_extract_all(lower(text), '$WordRe')) AS w
       |       FROM documents)
       | GROUP BY 1),
       |$rounds
       |SELECT * FROM ($out) ORDER BY rank""".stripMargin
  }

  // ---- t30: BPE tokenizer APPLICATION (the encode step) ----

  /** t30: BPE ENCODE — the tokenizer application step itself, closing
    * the family t21 (count) / t22 (cost) / t23 (train) open: every
    * document's full token SEQUENCE under the ordered merge table, as
    * the [[graft.functions.BpeEncode]] codegen'd expression (ONE
    * merge-loop engine shared with the count path, same per-JVM
    * distinct-word memo). This is what t13's sequence packing consumes
    * in a real pretraining pipeline — packing needs the ids, not just
    * the counts. The registered output carries the per-doc token count
    * plus an md5 fingerprint of the pipe-joined stream (the d10
    * reconstruction contract — the corpus-sized token text itself never
    * leaves the executors); the spec additionally pins fixture words'
    * literal streams and stream-length ≡ count consistency.
    *
    * Scale: a pure map stage over the corpus (encode + fingerprint in
    * one projection, only the presentation sort shuffles); at 100 TB
    * the stream column writes sharded to parquet instead of
    * fingerprinting — same plan minus the md5. */
  def t30BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.BpeCountF.count(w).as("bpe_tokens"),
        when(size(w) > 0,
          md5(graft.functions.BpeCountF.encode(w).cast("binary"))).as("tok_fp"))
      .orderBy("doc_id")
  }

  /** Oracle: the t21 merge-loop recursion per DISTINCT word (the memo's
    * twin), re-attached to word OCCURRENCES in position order so the
    * fingerprint hashes the same stream the engine emits. */
  /** The fixture merge table as SQL VALUES rows — shared by the t21/t22
    * CTE, t30's oracle, and p5's. */
  private[operators] lazy val bpeMergeRowsSql: String =
    graft.functions.BpeVocab.Merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '|$a|$b|', '|$a$b|')" }
      .mkString(", ")

  lazy val t30Sql: String = {
    val mergeRows = bpeMergeRowsSql
    s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES $mergeRows),
       |docw AS (
       | SELECT doc_id, unnest(arr) AS w, unnest(range(len(arr))) AS pos
       | FROM (SELECT doc_id, regexp_extract_all(lower(text), '$WordRe') AS arr
       |       FROM documents)),
       |dw AS (SELECT DISTINCT w FROM docw),
       |enc(w, s, rank) AS (
       | SELECT w, '|' || array_to_string(string_split(w, ''), '|') || '|', 1 FROM dw
       | UNION ALL
       | SELECT w, replace(s, m.pat, m.rep),
       |  CASE WHEN replace(s, m.pat, m.rep) <> s THEN e.rank ELSE e.rank + 1 END
       | FROM enc e JOIN merges m ON m.rank = e.rank),
       |fin AS (
       | SELECT w, trim(s, '|') AS sym,
       |  length(s) - length(replace(s, '|', '')) - 1 AS nt
       | FROM enc WHERE rank = (SELECT max(rank) + 1 FROM merges)),
       |strm AS (
       | SELECT d.doc_id,
       |  cast(sum(f.nt) AS bigint) AS bpe_tokens,
       |  md5(string_agg(f.sym, '|' ORDER BY d.pos)) AS tok_fp
       | FROM docw d JOIN fin f USING (w) GROUP BY d.doc_id)
       |SELECT doc.doc_id, coalesce(s.bpe_tokens, 0) AS bpe_tokens, s.tok_fp
       |FROM documents doc LEFT JOIN strm s ON s.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin
  }
}
