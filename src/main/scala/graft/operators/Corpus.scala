package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-assembly operators: the steps between a cleaned document set
  * and a training run — packing documents into fixed-size context
  * windows, and computing the domain-mixture statistics / resampling
  * weights that data-mixing recipes (e.g. the published Pile / Gopher /
  * LLaMA mixture tables) are built from.
  *
  * Both are exact-integer pipelines: token counts, cumulative offsets,
  * shares and weights are all bigint arithmetic, so no float ever
  * crosses the engine boundary (repo rule, cf. Quality.t12Tfidf).
  */
object Corpus {

  import TextAnalysis.{WordRe, words}

  /** whitespace-free token count, identical in both engines. */
  private def tokenCount(text: org.apache.spark.sql.Column) =
    size(words(text)).cast("long")

  // ---- t13: sequence packing ----

  /** Tokens per training context window. */
  val PackWindow = 512L

  /** doc_id range per prefix-sum bucket. */
  val PackBucket = 1000L

  /** t13: streaming sequence packing — assign each document a position
    * in a stream of fixed-size context windows: `pack_id` is the window
    * its first token lands in, `pack_offset` the position inside that
    * window (documents longer than the remaining space spill into the
    * next window — the streaming formulation every packed-pretraining
    * loader uses; first-fit bin packing is inherently sequential and
    * has no scalable exact form).
    *
    * The cumulative token offset is a DISTRIBUTED PREFIX SUM — never a
    * global single-partition window:
    *  1. per-bucket token sums over `doc_id DIV PackBucket` (map-side
    *     combined, bucket-count-bound);
    *  2. bucket offsets via the bounded broadcast self-join cumulative
    *     (the Quantiles B² pattern) — no window over the global order;
    *  3. a running sum WITHIN each bucket (partitions bounded by the
    *     bucket width, key cardinality grows with the corpus).
    * At 100 TB every stage is either bucket-count-bound or
    * bucket-width-bound; no stage sorts the corpus in one task. */
  def t13PackSequences(s: SparkSession, dir: String): DataFrame =
    packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", PackWindow, PackBucket)
      .orderBy("doc_id")

  /** Reusable packing core: assign each row of (idCol, tokCol) its
    * pack_id / pack_offset by cumulative token offset in idCol order,
    * via the distributed prefix sum described on [[t13PackSequences]].
    * ids must be non-negative and unique; token counts non-negative. */
  def packSequences(rows: DataFrame, idCol: String, tokCol: String,
      window: Long, bucket: Long): DataFrame = {
    require(window > 0)
    cumulativeOffsets(rows, idCol, tokCol, bucket)
      .select(col(idCol), col(tokCol),
        expr(s"cum_before DIV ${window}L").as("pack_id"),
        (col("cum_before") % window).as("pack_offset"))
  }

  /** The distributed prefix sum itself: each row of (idCol, tokCol)
    * gains `cum_before` = the exact sum of tokCol over all smaller ids,
    * via the three bucket stages described on [[t13PackSequences]] —
    * shared by t13's packing and p10's context-budget audit (the
    * offset is window-length-independent, so one prefix sum serves
    * every candidate length). */
  def cumulativeOffsets(rows: DataFrame, idCol: String, tokCol: String,
      bucket: Long): DataFrame = {
    require(bucket > 0)
    val base = rows.withColumn("bkt", expr(s"$idCol DIV ${bucket}L"))
    val bsums = base.groupBy("bkt").agg(sum(tokCol).as("btok"))
    val b2 = bsums.select(col("bkt").as("bkt_b"), col("btok").as("btok_b"))
    val boff = bsums.join(broadcast(b2), col("bkt_b") < col("bkt"), "left")
      .groupBy("bkt").agg(coalesce(sum("btok_b"), lit(0L)).as("bucket_offset"))
    val wIn = Window.partitionBy("bkt").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(boff), Seq("bkt"))
      .withColumn("cum_before",
        col("bucket_offset") + coalesce(sum(tokCol).over(wIn), lit(0L)))
      .drop("bkt", "bucket_offset")
  }

  val t13Sql: String =
    s"""WITH toks AS (
       | SELECT doc_id,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS n_tokens
       | FROM documents),
       |c AS (
       | SELECT doc_id, n_tokens,
       |  cast(coalesce(sum(n_tokens) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cum_before
       | FROM toks)
       |SELECT doc_id, n_tokens,
       | cast(cum_before // $PackWindow AS bigint) AS pack_id,
       | cast(cum_before % $PackWindow AS bigint) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---- t15: deterministic shard assignment ----

  /** Number of output shards (files/workers) for the packed corpus. */
  val NumShards = 16L

  /** t15: deterministic content-hash sharding — the reproducible
    * shuffle-and-shard step that turns a cleaned corpus into training
    * shards: shard = md5-prefix(text) mod S, so the split is a pure
    * function of content (stable across re-crawls that renumber ids,
    * and uniform regardless of id clustering). Reported per shard:
    * doc/token counts and an ORDER-INDEPENDENT checksum (the bigint sum
    * of per-doc content hashes) — two shard builds can be compared
    * without sorting either.
    *
    * Scale: one map stage (hash + token count) → one S-bound agg; the
    * checksum sum is exact int64 (each term < 1e9+7, so overflow needs
    * ~9×10^9 docs per shard — past that, widen to decimal(38,0)). */
  def t15ShardAssign(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("tok"),
        graft.functions.Md5PrefixModF(col("text"), Dedup.P).as("h"))
      .withColumn("shard", col("h") % NumShards)
    base.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"),
        sum("h").as("hash_checksum"))
      .orderBy("shard")
  }

  val t15Sql: String =
    s"""WITH base AS (
       | SELECT doc_id,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok,
       |  ('0x' || substr(md5(text), 1, 15))::bigint % ${Dedup.P} AS h
       | FROM documents)
       |SELECT h % $NumShards AS shard, count(*) AS n_docs,
       | cast(sum(tok) AS bigint) AS n_tokens,
       | cast(sum(h) AS bigint) AS hash_checksum
       |FROM base GROUP BY 1 ORDER BY shard""".stripMargin

  // ---- t14: domain mixture weights ----

  /** Upsampling cap: no domain is repeated more than 20x (ppm scale). */
  val MixtureCapPpm = 20000000L

  /** t14: domain-mixture statistics + resampling weights per
    * (lang, source) domain: document/token counts, the domain's share
    * of corpus tokens in ppm, and the exact-integer multiplier that
    * would equalize token mass across domains (capped at
    * [[MixtureCapPpm]] — unbounded upsampling of a tiny domain is never
    * what a mixture recipe wants).
    *
    * Shapes: one map stage (token count) → one group-count-bound agg →
    * a one-row broadcast total joined back; everything after the scan
    * is domain-count-bound. The ppm arithmetic stays in bigint — at
    * corpus sizes where total_tokens × 1e6 would overflow int64
    * (≥ ~9×10^12 tokens), move the two products to decimal(38,0);
    * the shapes are unchanged. */
  def t14MixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("lang"), col("source"), tokenCount(col("text")).as("tok"))
    val dom = base.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
    val tot = dom.agg(sum("n_tokens").as("total_tokens"), count(lit(1)).as("n_domains"))
    dom.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000L DIV total_tokens").as("share_ppm"),
        when(col("n_tokens") > 0,
          least(expr("total_tokens * 1000000L DIV (n_domains * n_tokens)"),
            lit(MixtureCapPpm)))
          .as("weight_ppm"))
      .orderBy("lang", "source")
  }

  val t14Sql: String =
    s"""WITH base AS (
       | SELECT lang, source,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok
       | FROM documents),
       |dom AS (
       | SELECT lang, source, count(*) AS n_docs,
       |  cast(sum(tok) AS bigint) AS n_tokens
       | FROM base GROUP BY lang, source),
       |tot AS (SELECT cast(sum(n_tokens) AS bigint) AS total_tokens,
       |  count(*) AS n_domains FROM dom)
       |SELECT lang, source, n_docs, n_tokens,
       | cast(n_tokens * 1000000 // total_tokens AS bigint) AS share_ppm,
       | CASE WHEN n_tokens > 0
       |  THEN cast(least(total_tokens * 1000000 // (n_domains * n_tokens), $MixtureCapPpm) AS bigint)
       |  ELSE NULL END AS weight_ppm
       |FROM dom CROSS JOIN tot
       |ORDER BY lang, source""".stripMargin

  /** t16: APPLY the t14 mixture — materialize the resampled corpus.
    * t14 PLANS the mixture (weight_ppm per domain); this operator
    * EXECUTES it deterministically: every doc gets floor(w/1e6)
    * guaranteed copies plus one more iff its content-hash ppm lands
    * below w mod 1e6 — a reproducible Bernoulli residual with no RNG,
    * no seed plumbing, and no drift across reruns or task retries (the
    * t15 hashing rule). Output per (lang, source): input size,
    * materialized copy count, achieved rate — exact integers.
    *
    * Scale: weights are domain-count-bound and broadcast; the corpus
    * pass is map-only (hash + broadcast join + integer arithmetic) into
    * one group-count-bound agg. At 100 TB the materialization itself is
    * `explode(sequence(1, copies))` on this same map pass — these counts
    * are its audit trail. */
  def t16ApplyMixture(s: SparkSession, dir: String): DataFrame = {
    val w = t14MixtureWeights(s, dir)
      .select(col("lang"), col("source"),
        coalesce(col("weight_ppm"), lit(0L)).as("wppm"))
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        (graft.functions.Md5PrefixModF(col("text"), Dedup.P) % 1000000L).as("hppm"))
    docs.join(broadcast(w), Seq("lang", "source"))
      .select(col("lang"), col("source"),
        (expr("wppm DIV 1000000") +
          when(col("hppm") < expr("wppm % 1000000"), 1L).otherwise(0L)).as("copies"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("copies").as("n_copies"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_copies"),
        expr("n_copies * 1000000L DIV n_docs").as("achieved_ppm"))
      .orderBy("lang", "source")
  }

  val t16Sql: String =
    s"""WITH base AS (
       | SELECT lang, source,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok,
       |  ('0x' || substr(md5(text), 1, 15))::bigint % ${Dedup.P} % 1000000 AS hppm
       | FROM documents),
       |dom AS (
       | SELECT lang, source, cast(sum(tok) AS bigint) AS n_tokens
       | FROM base GROUP BY lang, source),
       |tot AS (SELECT cast(sum(n_tokens) AS bigint) AS total_tokens,
       |  count(*) AS n_domains FROM dom),
       |w AS (
       | SELECT lang, source,
       |  coalesce(CASE WHEN n_tokens > 0
       |   THEN least(total_tokens * 1000000 // (n_domains * n_tokens), $MixtureCapPpm)
       |   END, 0) AS wppm
       | FROM dom CROSS JOIN tot),
       |c AS (
       | SELECT b.lang, b.source,
       |  wppm // 1000000 + CASE WHEN hppm < wppm % 1000000 THEN 1 ELSE 0 END AS copies
       | FROM base b JOIN w ON b.lang = w.lang AND b.source = w.source)
       |SELECT lang, source, count(*) AS n_docs,
       | cast(sum(copies) AS bigint) AS n_copies,
       | cast(sum(copies) * 1000000 // count(*) AS bigint) AS achieved_ppm
       |FROM c GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---- t24: temperature-scaled language sampling ----

  /** t24: TEMPERATURE-SCALED language sampling weights — the multilingual
    * mixture rule of mBERT/XLM-R/mT5 (Conneau et al. arXiv:1911.02116
    * §3.1; Xue et al. arXiv:2010.11934 §3.2): sample language l with
    * probability ∝ p_l^(1/T), flattening the head so low-resource
    * languages are seen more than their natural share. T = 2, i.e. the
    * exponent is 1/2 — deliberately, because IEEE-754 `sqrt` is
    * EXACTLY rounded (unlike `pow`, whose last-ulp varies by libm), so
    * Spark and DuckDB compute bit-identical weights and the row hashes
    * compare exactly. Each language's scaled mass is floored to integer
    * MICRO units before summing, so the normalizing total is an integer
    * sum (no float-accumulation-order hazard), and both shares come out
    * as exact integer ppm.
    *
    * Scale shape: one map stage (token count) → one group-count-bound
    * agg (≤ #languages rows) → a one-row broadcast total joined back;
    * nothing after the scan exceeds language cardinality. The ppm
    * products stay in int64 — past ~9e12 total tokens move them to
    * decimal(38,0), shapes unchanged (same note as t14). */
  def t24TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("lang"), tokenCount(col("text")).as("tok"))
    val langs = base.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .withColumn("s_micro",
        expr("cast(floor(sqrt(cast(n_tokens as double)) * 1e6) as bigint)"))
    val tot = langs.agg(sum("s_micro").as("s_tot"), sum("n_tokens").as("tok_tot"))
    langs.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * 1000000L DIV tok_tot").as("natural_ppm"),
        expr("s_micro * 1000000L DIV s_tot").as("sampled_ppm"))
      .orderBy("lang")
  }

  val t24Sql: String =
    s"""WITH base AS (
       | SELECT lang,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok
       | FROM documents),
       |l AS (
       | SELECT lang, count(*) AS n_docs, cast(sum(tok) AS bigint) AS n_tokens
       | FROM base GROUP BY lang),
       |sc AS (
       | SELECT lang, n_docs, n_tokens,
       |  cast(floor(sqrt(cast(n_tokens AS double)) * 1e6) AS bigint) AS s_micro
       | FROM l),
       |tot AS (SELECT cast(sum(s_micro) AS bigint) AS s_tot,
       |  cast(sum(n_tokens) AS bigint) AS tok_tot FROM sc)
       |SELECT lang, n_docs, n_tokens,
       | cast(n_tokens * 1000000 // tok_tot AS bigint) AS natural_ppm,
       | cast(s_micro * 1000000 // s_tot AS bigint) AS sampled_ppm
       |FROM sc CROSS JOIN tot ORDER BY lang""".stripMargin

  // ---- p1: composed pipeline — screen → dedup → per-domain budget ----

  /** p1: the COMPOSED pretraining-data pipeline in one query — the
    * end-to-end report every data team runs before a training cut:
    * quality-screen the raw crawl (token-count bounds + stopword
    * presence, the cheap Gopher-style gate), collapse exact duplicates
    * (d1's fp rule, min doc_id wins), then report the per-(lang, source)
    * TRAINING BUDGET: surviving docs, surviving tokens, raw input docs,
    * and the keep rate in exact integer ppm. Demonstrates that the
    * engine's screens and dedup compose into a single plan rather than
    * existing as isolated queries.
    *
    * Single-pass design: the screen is MAP-ONLY (rides the scan); the
    * dedup is ONE map-combined fp aggregate that carries the survivor's
    * metadata via min(struct(doc_id, ...)) AND the pre-dedup copy count
    * (cnt) — so the raw-input denominator needs NO second corpus pass;
    * the domain rollup is group-count-bound. No joins, no windows: scan
    * → map → fp agg → domain agg. Exact copies inherit their origin's
    * metadata, so attributing collapsed copies to the survivor's domain
    * is exact. */
  def p1PipelineBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text", "lang", "source")
    val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"), col("source")))
    val screened = corpus
      .withColumn("tok", tokenCount(col("text")))
      .filter(col("tok") >= 10 && col("tok") <= 2000 &&
        lower(col("text")).rlike("\\b(the|a|of|and|to|in|is)\\b"))
    screened
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("source"), col("tok"))).as("k"),
        count(lit(1)).as("cnt"))
      .groupBy(col("k.lang").as("lang"), col("k.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("k.tok")).as("n_tokens"),
        sum(col("cnt")).as("n_input"))
      .withColumn("kept_ppm", expr("n_docs * 1000000 div n_input"))
      .orderBy("lang", "source")
  }

  val p1Sql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text, lang, source
      |  FROM documents WHERE doc_id % 10 = 0),
      |screened AS (
      |  SELECT doc_id, text, lang, source,
      |    cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok
      |  FROM corpus
      |  WHERE len(regexp_extract_all(lower(text), '$WordRe')) BETWEEN 10 AND 2000
      |    AND regexp_matches(lower(text), '\\b(the|a|of|and|to|in|is)\\b')),
      |surv AS (
      |  SELECT md5(text) AS fp,
      |    min_by(lang, doc_id) AS lang, min_by(source, doc_id) AS source,
      |    min_by(tok, doc_id) AS tok, count(*) AS cnt
      |  FROM screened GROUP BY fp)
      |SELECT lang, source, count(*) AS n_docs,
      | cast(sum(tok) AS bigint) AS n_tokens,
      | cast(sum(cnt) AS bigint) AS n_input,
      | cast(count(*) * 1000000 // sum(cnt) AS bigint) AS kept_ppm
      |FROM surv GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---- p2: dataset card ----

  /** p2: the DATASET CARD — the corpus datasheet every published
    * training set ships (docs/tokens/chars per language, per source, and
    * in total, with corpus shares): one row per (dim, key) where dim ∈
    * {lang, source, total}.
    *
    * Plan-shape decision (the scale point of this operator): the naive
    * form is GROUPING SETS ((lang),(source),()) — but Spark plans
    * grouping sets as an Expand that REPLICATES the corpus once per
    * set (3× scan output at 100 TB). Instead the corpus aggregates
    * ONCE, map-side combined, to the (lang × source) CELL GRID — a
    * few-hundred-row frame — and every rollup (per-lang, per-source,
    * total, shares) derives from the cells. q39 demonstrates Expand
    * where the input is a fact table and the sets share one pass; here
    * the grid is tiny and the rollups are free, so cells-first strictly
    * dominates. Shares are exact integer ppm against the one-row total
    * (broadcast). */
  def p2DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        tokenCount(col("text")).as("tok"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("docs"), sum(col("tok")).as("tokens"),
        sum(col("chars")).as("chars"))
      .localCheckpoint() // cell grid: consumed by three rollups + total
    val total = cells.agg(sum(col("docs")).as("tdocs"),
      sum(col("tokens")).as("ttokens"), sum(col("chars")).as("tchars"))
    def roll(dim: String, key: org.apache.spark.sql.Column): DataFrame =
      cells.groupBy(key.as("key"))
        .agg(sum(col("docs")).as("docs"), sum(col("tokens")).as("tokens"),
          sum(col("chars")).as("chars"))
        .crossJoin(broadcast(total))
        .select(lit(dim).as("dim"), col("key"), col("docs"), col("tokens"),
          col("chars"), expr("docs * 1000000 div tdocs").as("share_ppm"),
          expr("tokens * 1000000 div ttokens").as("token_share_ppm"))
    roll("lang", col("lang"))
      .unionByName(roll("source", col("source")))
      .unionByName(total.select(lit("total").as("dim"), lit("*").as("key"),
        col("tdocs").as("docs"), col("ttokens").as("tokens"),
        col("tchars").as("chars"), lit(1000000L).as("share_ppm"),
        lit(1000000L).as("token_share_ppm")))
      .orderBy("dim", "key")
  }

  val p2Sql: String =
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS docs,
       |    cast(sum(len(regexp_extract_all(lower(text), '$WordRe'))) AS bigint) AS tokens,
       |    cast(sum(length(text)) AS bigint) AS chars
       |  FROM documents GROUP BY lang, source),
       |tot AS (
       |  SELECT cast(sum(docs) AS bigint) AS tdocs,
       |    cast(sum(tokens) AS bigint) AS ttokens,
       |    cast(sum(chars) AS bigint) AS tchars
       |  FROM cells),
       |rolls AS (
       |  SELECT 'lang' AS dim, lang AS key, cast(sum(docs) AS bigint) AS docs,
       |    cast(sum(tokens) AS bigint) AS tokens, cast(sum(chars) AS bigint) AS chars
       |  FROM cells GROUP BY lang
       |  UNION ALL
       |  SELECT 'source' AS dim, source AS key, cast(sum(docs) AS bigint),
       |    cast(sum(tokens) AS bigint), cast(sum(chars) AS bigint)
       |  FROM cells GROUP BY source)
       |SELECT dim, key, docs, tokens, chars,
       |  cast(docs * 1000000 // tdocs AS bigint) AS share_ppm,
       |  cast(tokens * 1000000 // ttokens AS bigint) AS token_share_ppm
       |FROM rolls CROSS JOIN tot
       |UNION ALL
       |SELECT 'total', '*', tdocs, ttokens, tchars,
       |  cast(1000000 AS bigint), cast(1000000 AS bigint)
       |FROM tot
       |ORDER BY dim, key""".stripMargin

  // ---- p3: full pretraining cut — screen → dedup → decontam → mixture ----

  /** p3: the FULL PRETRAINING CUT as one composed plan — the four-stage
    * recipe every published pretraining set describes (C4 §2.2 screens,
    * FineWeb/Dolma dedup + decontamination, XLM-R/mT5 temperature
    * mixing), with the per-LANGUAGE mass ledger a data team signs off
    * on: raw → screened (t25's blocklist/length/bad-word rules) →
    * deduped (d1's exact-fp collapse, min-doc_id survivor) →
    * decontaminated (drop survivors sharing any word 8-gram with the
    * benchmark set — t10's screen, here as the removal it exists to
    * drive) → t24's T=2 temperature weights over what SURVIVES. p1
    * proves screen+dedup compose per domain; p3 is the language-level
    * end-to-end: every stage's count visible, and the final sampling
    * ppm computed on post-cut token mass (weights computed on raw mass
    * — the common pipeline bug — would mis-sample any language that
    * loses disproportionate mass to dedup/decontam).
    *
    * Plan: TWO corpus scans total — one agg computes raw and screened
    * ledger columns together (conditional count, map-combined); the
    * screened frame then collapses through the ONE fp shuffle carrying
    * (doc_id, lang, tok, text) in the min-struct, so every later stage
    * runs on the collapsed survivor frame: 8-gram fingerprints explode
    * survivor-side only, die map-side against the broadcast benchmark
    * gram set (t10's hash-probe shape), and the contaminated-id sliver
    * anti-joins back as a broadcast. Ledger joins are |langs|-bound.
    * Engine matches grams as 64-bit rolling hashes, oracle in string
    * space (the documented d17/t10 fingerprint trade). */
  def p3PretrainingCut(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Quality => Q}
    val flagged = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        tokenCount(col("text")).as("tok"),
        Q.BadWords.map(w => regexp_count(lower(col("text")), lit(s"\\b$w\\b")).cast("long"))
          .reduce(_ + _).as("bad"))
      .withColumn("kept",
        !col("source").isin(Q.BlockedSources: _*) &&
          col("tok") >= Q.ScreenMinTok && col("bad") * 10L < col("tok"))
    val ledger12 = flagged.groupBy("lang")
      .agg(count(lit(1)).as("raw_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("screened_docs"))
    val survivors = flagged.filter(col("kept"))
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("tok"), col("text"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.tok").as("tok"), col("k.text").as("text"))
    val benchGrams = Tables.documents(s, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(expr(s"concat_ws(' ', slice(regexp_extract_all(lower(text), '$WordRe', 0), 1, 15))").as("t"))
      .unionByName(s.range(1).select(lit(Q.CanaryText).as("t")))
      .select(explode(graft.functions.TokenWindows.hashes(col("t"), 8)).as("gh"))
      .distinct()
    val contaminated = survivors
      .select(col("doc_id"), explode(graft.functions.TokenWindows.hashes(
        expr(s"concat_ws(' ', regexp_extract_all(lower(text), '$WordRe', 0))"), 8)).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"))
      .select("doc_id").distinct()
    val clean = survivors.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val ledger3 = survivors.groupBy("lang").agg(count(lit(1)).as("deduped_docs"))
    val ledger45 = clean.groupBy("lang")
      .agg(count(lit(1)).as("clean_docs"), sum("tok").as("clean_tokens"))
      .withColumn("s_micro",
        expr("cast(floor(sqrt(cast(clean_tokens as double)) * 1e6) as bigint)"))
    val tot = ledger45.agg(sum("s_micro").as("s_tot"))
    ledger12
      .join(ledger3, Seq("lang"), "left")
      .join(ledger45, Seq("lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("raw_docs"), col("screened_docs"),
        coalesce(col("deduped_docs"), lit(0L)).as("deduped_docs"),
        coalesce(col("clean_docs"), lit(0L)).as("clean_docs"),
        coalesce(col("clean_tokens"), lit(0L)).as("clean_tokens"),
        expr("coalesce(s_micro, 0L) * 1000000L DIV s_tot").as("sampled_ppm"))
      .orderBy("lang")
  }

  val p3Sql: String = {
    val badHits = graft.operators.Quality.BadWords.map(w =>
      s"cast(len(regexp_extract_all(lower(text), '\\b$w\\b')) AS bigint)")
      .mkString(" + ")
    val blocked = graft.operators.Quality.BlockedSources.map(x => s"'$x'").mkString(", ")
    s"""WITH flagged AS (
       | SELECT doc_id, lang, source, text,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok,
       |  $badHits AS bad
       | FROM documents),
       |f2 AS (
       | SELECT *, (source NOT IN ($blocked) AND tok >= ${graft.operators.Quality.ScreenMinTok}
       |            AND bad * 10 < tok) AS kept
       | FROM flagged),
       |l12 AS (
       | SELECT lang, count(*) AS raw_docs,
       |  cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS screened_docs
       | FROM f2 GROUP BY lang),
       |surv AS (
       | SELECT min_by(doc_id, doc_id) AS doc_id, min_by(lang, doc_id) AS lang,
       |  min_by(tok, doc_id) AS tok, min_by(text, doc_id) AS text
       | FROM f2 WHERE kept GROUP BY md5(text)),
       |bencht AS (
       | SELECT array_to_string((regexp_extract_all(lower(text), '$WordRe'))[1:15], ' ') AS t
       | FROM documents WHERE doc_id % 50 = 0
       | UNION ALL SELECT '${graft.operators.Quality.CanaryText}'),
       |benchg AS (
       | SELECT DISTINCT ng FROM (
       |  SELECT unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS ng
       |  FROM (SELECT regexp_extract_all(lower(t), '$WordRe') AS w FROM bencht)
       |  WHERE len(w) >= 8)),
       |contam AS (
       | SELECT DISTINCT doc_id FROM (
       |  SELECT doc_id,
       |   unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS ng
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '$WordRe') AS w FROM surv)
       |  WHERE len(w) >= 8) JOIN benchg USING (ng)),
       |l3 AS (SELECT lang, count(*) AS deduped_docs FROM surv GROUP BY lang),
       |clean AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |l45 AS (
       | SELECT lang, count(*) AS clean_docs, cast(sum(tok) AS bigint) AS clean_tokens,
       |  cast(floor(sqrt(cast(sum(tok) AS double)) * 1e6) AS bigint) AS s_micro
       | FROM clean GROUP BY lang),
       |tot AS (SELECT cast(sum(s_micro) AS bigint) AS s_tot FROM l45)
       |SELECT l12.lang, raw_docs, screened_docs,
       | cast(coalesce(deduped_docs, 0) AS bigint) AS deduped_docs,
       | cast(coalesce(clean_docs, 0) AS bigint) AS clean_docs,
       | cast(coalesce(clean_tokens, 0) AS bigint) AS clean_tokens,
       | cast(coalesce(s_micro, 0) * 1000000 // s_tot AS bigint) AS sampled_ppm
       |FROM l12
       |LEFT JOIN l3 ON l12.lang = l3.lang
       |LEFT JOIN l45 ON l12.lang = l45.lang
       |CROSS JOIN tot
       |ORDER BY l12.lang""".stripMargin
  }

  // ---- d22: snapshot diff (the corpus version ledger) ----

  /** The marker the "changed" branch appends (a re-crawled page whose
    * content drifted between snapshots). */
  private[operators] val ChangedSuffix = " updated content v2"

  /** The derived two-snapshot fixture every cross-snapshot oracle query
    * binds (d22 diff, p7 gate, t35 drift): snapshot A drops
    * doc_id%10=7, snapshot B drops doc_id%9=4 and re-crawls every sixth
    * doc with drifted content — deterministic in both engines. */
  def oraclePair(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.documents(s, dir).select("doc_id", "text", "lang")
    val snapA = d.filter(col("doc_id") % 10 =!= 7)
    val snapB = d.filter(col("doc_id") % 9 =!= 4)
      .withColumn("text", when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(ChangedSuffix))).otherwise(col("text")))
    (snapA, snapB)
  }

  /** d22: SNAPSHOT DIFF — the docs added / removed / changed report
    * between two corpus versions with per-language token-mass deltas:
    * the artifact a recurring-crawl pipeline reviews before promoting a
    * snapshot (d9/d15/a4 answer membership and cardinality across
    * crawls; this is the review report itself, the "what changed since
    * the last cut" datasheet). The two snapshots are derived
    * deterministically from the documents table — A drops doc_id%10=7,
    * B drops doc_id%9=4 and re-crawls every sixth doc with drifted
    * content — so both engines diff identical versions.
    *
    * Scale shape: each snapshot reduces to ONE fingerprint-and-count
    * projection (doc_id, lang, md5(text), token count) — the full-outer
    * membership join then shuffles ~40 bytes per doc, never text
    * (production would use xxhash64's 8 bytes; md5 is the
    * engine-portable choice for the oracle). Classification is
    * row-local; the per-language rollup is map-side combined and
    * language-count-bound. At 100 TB this is exactly the d9 anti-join
    * exchange class, paid twice. */
  def d22SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (snapA, snapB) = oraclePair(s, dir)
    snapshotDiffFrames(snapA, snapB)
  }

  /** The diff core over ANY two (doc_id, text, lang) snapshots — the
    * public API; [[d22SnapshotDiff]] binds the oracle's derived pair. */
  def snapshotDiffFrames(snapA: DataFrame, snapB: DataFrame): DataFrame = {
    def slim(df: DataFrame, side: String): DataFrame = df.select(
      col("doc_id"), col("lang").as(s"lang_$side"),
      md5(col("text").cast("binary")).as(s"fp_$side"),
      tokenCount(col("text")).as(s"nt_$side"))
    val j = slim(snapA, "a").join(slim(snapB, "b"), Seq("doc_id"), "full_outer")
    j.select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("removed"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("nt_a"), lit(0L)).as("nt_a"),
        coalesce(col("nt_b"), lit(0L)).as("nt_b"))
      .groupBy("lang")
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        sum(col("nt_a")).as("tokens_a"),
        sum(col("nt_b")).as("tokens_b"))
      .withColumn("delta_tokens", col("tokens_b") - col("tokens_a"))
      .orderBy("lang")
  }

  val d22Sql: String =
    s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
       |snap_a AS (
       | SELECT doc_id, lang, md5(text) AS fp,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS nt
       | FROM d WHERE doc_id % 10 <> 7),
       |snap_b AS (
       | SELECT doc_id, lang, md5(t2) AS fp,
       |  cast(len(regexp_extract_all(lower(t2), '$WordRe')) AS bigint) AS nt
       | FROM (
       |  SELECT doc_id, lang,
       |   CASE WHEN doc_id % 6 = 0 THEN text || '$ChangedSuffix' ELSE text END AS t2
       |  FROM d WHERE doc_id % 9 <> 4)),
       |j AS (
       | SELECT coalesce(a.lang, b.lang) AS lang,
       |  CASE WHEN a.fp IS NULL THEN 'added'
       |       WHEN b.fp IS NULL THEN 'removed'
       |       WHEN a.fp <> b.fp THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  coalesce(a.nt, 0) AS nt_a, coalesce(b.nt, 0) AS nt_b
       | FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id)
       |SELECT lang,
       | cast(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS bigint) AS n_added,
       | cast(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS bigint) AS n_removed,
       | cast(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS bigint) AS n_changed,
       | cast(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS bigint) AS n_unchanged,
       | cast(sum(nt_a) AS bigint) AS tokens_a,
       | cast(sum(nt_b) AS bigint) AS tokens_b,
       | cast(sum(nt_b) - sum(nt_a) AS bigint) AS delta_tokens
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ---- p5: the training-shard prep composition ----

  /** p5: TRAINING SHARDS — the final prep step composed end-to-end, the
    * artifact a pretraining run actually mounts (p3 decides WHAT goes
    * in; p5 builds the thing loaders read): C4-clean the corpus (t29's
    * line rules, pages reconstructed from surviving lines) → tokenize
    * under the REAL tokenizer ([[graft.functions.BpeCount]] — t13's
    * whitespace counts are the approximation this fixes) → pack into
    * [[PackWindow]]-token context windows by distributed prefix sum
    * ([[packSequences]]) → deterministic content-hash shard assignment
    * (t15's). Per shard: doc/BPE-token counts, the order-independent
    * hash checksum, and the pack-id span its documents' first tokens
    * cover.
    *
    * Scale: clean + tokenize + hash is ONE map stage (the C4 lambdas,
    * the memoized BPE loop, and the md5-prefix all codegen'd in a
    * single projection); packing is the bucket-bound prefix sum — no
    * global-order window; the shard rollup is S-bound. The one
    * corpus-sized exchange is the prefix sum's bucket partitioning,
    * carrying (doc_id, token-count, hash) — never text. */
  def p5TrainingShards(s: SparkSession, dir: String): DataFrame = {
    val clean = Quality.c4Clean(s, dir)
    val toks = clean.select(col("doc_id"),
      graft.functions.BpeCountF.count(words(col("text"))).as("bpe"),
      graft.functions.Md5PrefixModF(col("text"), Dedup.P).as("h"))
    packSequences(toks.select("doc_id", "bpe"), "doc_id", "bpe", PackWindow, PackBucket)
      .join(toks.select("doc_id", "h"), Seq("doc_id"))
      .withColumn("shard", col("h") % NumShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("bpe").as("bpe_tokens"),
        sum("h").as("hash_checksum"),
        min("pack_id").as("first_pack"), max("pack_id").as("last_pack"))
      .orderBy("shard")
  }

  /** Oracle: the t29 clean CTEs + the t30 distinct-word BPE recursion +
    * t13's cumulative window + t15's hash, rolled up per shard. */
  lazy val p5Sql: String =
    s"""WITH RECURSIVE merges(rank, pat, rep) AS (VALUES ${TextAnalysis.bpeMergeRowsSql}),
       |${Quality.c4CtesSql},
       |clean AS (
       | SELECT doc_id, array_to_string(kept, chr(10)) AS text
       | FROM c4k WHERE ${Quality.c4PageKeptSql}),
       |docw AS (
       | SELECT doc_id, unnest(arr) AS w
       | FROM (SELECT doc_id, regexp_extract_all(lower(text), '$WordRe') AS arr FROM clean)),
       |dwc AS (SELECT doc_id, w, count(*) AS n FROM docw GROUP BY doc_id, w),
       |dw AS (SELECT DISTINCT w FROM dwc),
       |enc(w, s, rank) AS (
       | SELECT w, '|' || array_to_string(string_split(w, ''), '|') || '|', 1 FROM dw
       | UNION ALL
       | SELECT w, replace(s, m.pat, m.rep),
       |  CASE WHEN replace(s, m.pat, m.rep) <> s THEN e.rank ELSE e.rank + 1 END
       | FROM enc e JOIN merges m ON m.rank = e.rank),
       |fin AS (
       | SELECT w, length(s) - length(replace(s, '|', '')) - 1 AS nt
       | FROM enc WHERE rank = (SELECT max(rank) + 1 FROM merges)),
       |toks AS (
       | SELECT d.doc_id, cast(sum(d.n * f.nt) AS bigint) AS bpe
       | FROM dwc d JOIN fin f USING (w) GROUP BY d.doc_id),
       |c AS (
       | SELECT doc_id, bpe,
       |  cast(coalesce(sum(bpe) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cum_before
       | FROM toks),
       |sh AS (
       | SELECT c.doc_id, c.bpe, c.cum_before // $PackWindow AS pack_id,
       |  ('0x' || substr(md5(cl.text), 1, 15))::bigint % ${Dedup.P} AS h
       | FROM c JOIN clean cl USING (doc_id))
       |SELECT h % $NumShards AS shard,
       | count(*) AS n_docs,
       | cast(sum(bpe) AS bigint) AS bpe_tokens,
       | cast(sum(h) AS bigint) AS hash_checksum,
       | cast(min(pack_id) AS bigint) AS first_pack,
       | cast(max(pack_id) AS bigint) AS last_pack
       |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin

  // ---- p7: the snapshot PROMOTION GATE ----

  /** Promotion-gate thresholds: max removed docs as integer percent of
    * the live snapshot, max token-mass shrink in ppm, max exact-dup rate
    * of the candidate in ppm. */
  val P7RemovedPctMax = 15L
  val P7TokenShrinkPpmMax = 50000L
  val P7DupPpmMax = 200000L

  /** p7: the SNAPSHOT PROMOTION GATE — the composed go/no-go a
    * recurring-crawl pipeline runs before swapping the serving corpus to
    * a new snapshot (q43 is the relational promotion gate; this is the
    * corpus one, consuming d22's diff): four checks, each a row with the
    * observed value, its threshold, and a verdict, plus the composed
    * `promote` row (the AND). Checks: (1) removal rate — a candidate
    * that dropped more than [[P7RemovedPctMax]]% of live docs is a
    * partial crawl, not an update; (2) token-mass shrink in ppm — the
    * corpus must not silently lose more than [[P7TokenShrinkPpmMax]]
    * ppm of its token mass; (3) exact-dup rate of the candidate — an
    * ingest that re-concatenated shards shows up as fingerprint dups;
    * (4) language retention — no language present live may vanish.
    *
    * All money-grade integers: percents/ppm in integral division with
    * the q42 overflow discipline (token products route through
    * decimal(38,0) — bigint·1e6 wraps near 9.2e12 tokens, i.e. ~10 TB
    * of text, exactly the scale this gate exists for).
    *
    * Scale: the diff rollup is [[snapshotDiffFrames]] (one fingerprint-
    * bound full-outer join); the dup check is one exact distinct over
    * the candidate's 16-byte fingerprints; everything downstream is
    * lang-bound or one-row. Nothing wider than (doc_id, fp, nt) moves. */
  def p7PromotionGate(s: SparkSession, dir: String): DataFrame = {
    val (snapA, snapB) = oraclePair(s, dir)
    promotionGateFrames(snapA, snapB)
  }

  /** The gate over ANY two (doc_id, text, lang) snapshots — the public
    * API; [[p7PromotionGate]] binds the oracle's derived pair. */
  def promotionGateFrames(snapA: DataFrame, snapB: DataFrame): DataFrame = {
    val perLang = snapshotDiffFrames(snapA, snapB) // lang-bound rollup
    val na = col("n_removed") + col("n_changed") + col("n_unchanged")
    val nb = col("n_added") + col("n_changed") + col("n_unchanged")
    val tots = perLang.agg(
      sum(na).as("n_a"), sum("n_removed").as("n_rm"),
      sum("tokens_a").as("tok_a"), sum("tokens_b").as("tok_b"),
      sum(when(na > 0 && nb === 0, 1L).otherwise(0L)).as("langs_dropped"))
    val dupB = snapB.agg(count(lit(1)).as("n_b"),
      countDistinct(md5(col("text").cast("binary"))).as("uq_b"))
    val g = tots.crossJoin(dupB).select(
      expr("n_rm * 100 div n_a").as("removed_pct"),
      expr("cast((cast(greatest(tok_a - tok_b, 0L) as decimal(38,0)) * 1000000)" +
        " div tok_a as bigint)").as("shrink_ppm"),
      expr("(n_b - uq_b) * 1000000 div n_b").as("dup_ppm"),
      col("langs_dropped"))
    def ok(c: org.apache.spark.sql.Column) = c.cast("int").cast("long")
    val checked = g.select(
      col("removed_pct"), col("shrink_ppm"), col("dup_ppm"), col("langs_dropped"),
      ok(col("removed_pct") <= P7RemovedPctMax).as("ok1"),
      ok(col("shrink_ppm") <= P7TokenShrinkPpmMax).as("ok2"),
      ok(col("dup_ppm") <= P7DupPpmMax).as("ok3"),
      ok(col("langs_dropped") === 0).as("ok4"))
    def chk(name: String, obs: org.apache.spark.sql.Column, lim: Long,
        okc: org.apache.spark.sql.Column) =
      struct(lit(name).as("check"), obs.as("observed"),
        lit(lim).as("threshold"), okc.as("ok"))
    val promote = col("ok1") * col("ok2") * col("ok3") * col("ok4")
    checked.select(explode(array(
        chk("a_removed_pct", col("removed_pct"), P7RemovedPctMax, col("ok1")),
        chk("b_token_shrink_ppm", col("shrink_ppm"), P7TokenShrinkPpmMax, col("ok2")),
        chk("c_dup_rate_ppm", col("dup_ppm"), P7DupPpmMax, col("ok3")),
        chk("d_langs_dropped", col("langs_dropped"), 0L, col("ok4")),
        chk("e_promote", promote, 1L, promote))).as("t"))
      .select("t.check", "t.observed", "t.threshold", "t.ok")
      .orderBy("check")
  }

  val p7Sql: String =
    s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
       |snap_a AS (
       | SELECT doc_id, lang, md5(text) AS fp,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS nt
       | FROM d WHERE doc_id % 10 <> 7),
       |snap_b AS (
       | SELECT doc_id, lang, md5(t2) AS fp,
       |  cast(len(regexp_extract_all(lower(t2), '$WordRe')) AS bigint) AS nt
       | FROM (
       |  SELECT doc_id, lang,
       |   CASE WHEN doc_id % 6 = 0 THEN text || '$ChangedSuffix' ELSE text END AS t2
       |  FROM d WHERE doc_id % 9 <> 4)),
       |j AS (
       | SELECT coalesce(a.lang, b.lang) AS lang,
       |  CASE WHEN a.fp IS NULL THEN 0 ELSE 1 END AS in_a,
       |  CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END AS in_b,
       |  coalesce(a.nt, 0) AS nt_a, coalesce(b.nt, 0) AS nt_b
       | FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id),
       |lang_roll AS (
       | SELECT lang, sum(in_a) AS n_a_l, sum(in_b) AS n_b_l FROM j GROUP BY lang),
       |tot AS (
       | SELECT cast(sum(in_a) AS bigint) AS n_a,
       |  cast(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS bigint) AS n_rm,
       |  cast(sum(nt_a) AS bigint) AS tok_a, cast(sum(nt_b) AS bigint) AS tok_b
       | FROM j),
       |langs AS (
       | SELECT cast(sum(CASE WHEN n_a_l > 0 AND n_b_l = 0 THEN 1 ELSE 0 END) AS bigint)
       |  AS langs_dropped FROM lang_roll),
       |dup AS (
       | SELECT cast(count(*) AS bigint) AS n_b,
       |  cast(count(DISTINCT fp) AS bigint) AS uq_b FROM snap_b),
       |g AS (
       | SELECT cast(n_rm * 100 // n_a AS bigint) AS removed_pct,
       |  cast(cast(greatest(tok_a - tok_b, 0) AS hugeint) * 1000000 // tok_a AS bigint)
       |   AS shrink_ppm,
       |  cast((n_b - uq_b) * 1000000 // n_b AS bigint) AS dup_ppm,
       |  langs_dropped
       | FROM tot, langs, dup),
       |c AS (
       | SELECT removed_pct, shrink_ppm, dup_ppm, langs_dropped,
       |  cast(removed_pct <= ${P7RemovedPctMax} AS bigint) AS ok1,
       |  cast(shrink_ppm <= ${P7TokenShrinkPpmMax} AS bigint) AS ok2,
       |  cast(dup_ppm <= ${P7DupPpmMax} AS bigint) AS ok3,
       |  cast(langs_dropped = 0 AS bigint) AS ok4
       | FROM g)
       |SELECT 'a_removed_pct' AS "check", removed_pct AS observed,
       | cast(${P7RemovedPctMax} AS bigint) AS threshold, ok1 AS ok FROM c
       |UNION ALL SELECT 'b_token_shrink_ppm', shrink_ppm,
       | ${P7TokenShrinkPpmMax}, ok2 FROM c
       |UNION ALL SELECT 'c_dup_rate_ppm', dup_ppm, ${P7DupPpmMax}, ok3 FROM c
       |UNION ALL SELECT 'd_langs_dropped', langs_dropped, 0, ok4 FROM c
       |UNION ALL SELECT 'e_promote', ok1 * ok2 * ok3 * ok4, 1,
       | ok1 * ok2 * ok3 * ok4 FROM c
       |ORDER BY "check"""".stripMargin

  // ---- p10: the context-length budget audit ----

  /** Candidate context windows for the p10 audit. */
  val CtxLengths: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)

  /** p10: the CONTEXT-LENGTH BUDGET audit — the ledger behind "what
    * max_seq_len do we train at": for each candidate window L, the
    * exact cost of the two loading conventions every trainer chooses
    * between. PACKED (t13's streaming packing): total windows
    * ceil(T/L) and the number of documents SPLIT across a window
    * boundary (the attention-contamination term packing pays — a doc
    * whose first and last token land in different windows). UNPACKED
    * (one doc per sequence): padding tokens Σ(L − min(tok, L)) and
    * truncated tokens Σ max(tok − L, 0), each as exact ppm of the
    * respective budget (padding over n_docs·L slots, truncation over
    * the corpus token mass — decimal(38,0) cross-multiplication, the
    * q42 discipline). The trade the four rows make visible: packing
    * wastes almost nothing but splits documents; per-doc sequences
    * split nothing but pay padding at small L and truncation at every
    * L a long tail exceeds.
    *
    * Plan: the cumulative offset is L-INDEPENDENT, so ONE distributed
    * prefix sum ([[cumulativeOffsets]] — bucket-sum → bounded
    * cumulative join → within-bucket window, t13's machinery) serves
    * all four candidates; the per-L measures fold in ONE map-combined
    * aggregate (3·|L|+2 conditional sums over one corpus pass) and the
    * report unpivots the single row into |L| rows. Nothing after the
    * prefix sum touches the corpus again. */
  def p10ContextBudget(s: SparkSession, dir: String): DataFrame = {
    val c = cumulativeOffsets(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("tok")),
      "doc_id", "tok", PackBucket)
    val aggCols = Seq(count(lit(1)).as("n_docs"),
      sum("tok").as("total_tokens")) ++
      CtxLengths.flatMap { l => Seq(
        sum(when(col("tok") > 0 &&
            expr(s"cum_before DIV ${l}L") =!=
            expr(s"(cum_before + tok - 1) DIV ${l}L"), 1L)
          .otherwise(0L)).as(s"split_$l"),
        sum(lit(l) - least(col("tok"), lit(l))).as(s"pad_$l"),
        sum(greatest(col("tok") - l, lit(0L))).as(s"tr_$l")) }
    val one = c.agg(aggCols.head, aggCols.tail: _*)
    one.select(explode(array(CtxLengths.map(l => struct(
        lit(l).as("ctx_len"), col("n_docs"), col("total_tokens"),
        col(s"split_$l").as("packed_split_docs"),
        col(s"pad_$l").as("pad_toks"),
        col(s"tr_$l").as("tr_toks"))): _*)).as("t"))
      .select("t.*")
      .select(col("ctx_len"), col("n_docs"), col("total_tokens"),
        expr("(total_tokens + ctx_len - 1) DIV ctx_len").as("packed_windows"),
        col("packed_split_docs"), col("pad_toks"), col("tr_toks"),
        expr("CAST(CAST(pad_toks AS DECIMAL(38,0)) * 1000000" +
          " DIV (n_docs * ctx_len) AS BIGINT)").as("unpacked_pad_ppm"),
        expr("CAST(CAST(tr_toks AS DECIMAL(38,0)) * 1000000" +
          " DIV total_tokens AS BIGINT)").as("unpacked_trunc_ppm"))
      .orderBy("ctx_len")
  }

  val p10Sql: String = {
    val grid = CtxLengths.map(l => s"($l)").mkString(", ")
    s"""WITH toks AS (
       | SELECT doc_id,
       |  cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS tok
       | FROM documents),
       |c AS (
       | SELECT doc_id, tok,
       |  cast(coalesce(sum(tok) OVER (
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS bigint) AS cum_before
       | FROM toks),
       |g AS (SELECT cast(L AS bigint) AS L FROM (VALUES $grid) t(L)),
       |per AS (
       | SELECT g.L AS ctx_len,
       |  count(*) AS n_docs, cast(sum(tok) AS bigint) AS total_tokens,
       |  cast(sum(CASE WHEN tok > 0
       |        AND c.cum_before // g.L <> (c.cum_before + tok - 1) // g.L
       |       THEN 1 ELSE 0 END) AS bigint) AS packed_split_docs,
       |  cast(sum(g.L - least(tok, g.L)) AS bigint) AS pad_toks,
       |  cast(sum(greatest(tok - g.L, 0)) AS bigint) AS tr_toks
       | FROM c CROSS JOIN g GROUP BY g.L)
       |SELECT ctx_len, n_docs, total_tokens,
       | cast((total_tokens + ctx_len - 1) // ctx_len AS bigint) AS packed_windows,
       | packed_split_docs, pad_toks, tr_toks,
       | cast(pad_toks::HUGEINT * 1000000 // (n_docs * ctx_len) AS bigint)
       |   AS unpacked_pad_ppm,
       | cast(tr_toks::HUGEINT * 1000000 // total_tokens AS bigint)
       |   AS unpacked_trunc_ppm
       |FROM per ORDER BY ctx_len""".stripMargin
  }
}
