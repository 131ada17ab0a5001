package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TopK, VectorExpressions => V}

/** Lexical + hybrid retrieval — the serving-side query surface of the
  * reference's RAG loop (conversationController.js:31-38 retrieves
  * top-10 by dense similarity only; production retrieval stacks fuse a
  * lexical BM25 leg with the dense leg, which is what this family adds
  * on top of the Similarity operators):
  *
  *  - [[t26Bm25]]: Okapi BM25 (Robertson & Spärck Jones; the Lucene
  *    variant with the +1-shifted IDF) scored entirely in the engine;
  *  - [[t26StatsWrite]] / [[t26ScoreFrom]] / [[bm25RowScore]]: the
  *    persisted lexical index and its batch/streaming scorers (one
  *    [[bm25Contrib]] definition across all three deployment shapes);
  *  - [[s13RrfHybrid]]: reciprocal-rank fusion (Cormack et al.
  *    SIGIR'09) of the BM25 ranking with the dense cosine ranking —
  *    the standard "hybrid search" composition (Elastic/Vespa/Weaviate
  *    all ship this exact formula) expressed as two bounded rank lists
  *    and one integer merge;
  *  - [[p4RagContext]]: the composed serving pipeline (hybrid retrieve
  *    → MMR diversify → token-budget ledger).
  *
  * Determinism contract (the t12/t17 rule): ONE ln per distinct query
  * term → `idf_micro` (floored micro-nats); every other float op is an
  * IEEE-correctly-rounded +,*,/ chain over exactly-representable
  * integer inputs and identically-parsed literals, evaluated with the
  * SAME association order in both engines, then floored per (doc,term)
  * and summed as integers — so cross-engine hashes match exactly.
  * RRF is pure integer arithmetic over ranks.
  *
  * One lexical body ([[bm25Batch]]) serves every relational BM25 shape:
  * a single query is a one-qid (qid, term) relation of its distinct
  * terms, so query terms enter every plan as data, never as literals,
  * and two queries of any term count share one plan shape.
  *
  * Scale notes:
  *  - the corpus-sized work in BM25 is ONE tokenize pass feeding two
  *    map-combined aggregates (per-doc length; per-(doc,term) tf for
  *    QUERY TERMS ONLY — a broadcast semi-join on the query's terms
  *    prunes before the shuffle, so the tf exchange is bound by
  *    docs-containing-query-terms, the selective case at a real 100 TB
  *    corpus);
  *  - df and idf live on a ≤|query| row sliver, broadcast back;
  *  - the corpus-wide (n_docs, total_tokens) scalar is a one-row
  *    broadcast (the q40 rule: never a window for a global constant);
  *  - top-20 is TakeOrdered (distributed partial top-k), never a global
  *    sort; the rank window runs on the 20-row result;
  *  - RRF joins two 20-row lists — sliver work end to end after the
  *    two legs.
  */
object Retrieval {
  import TextAnalysis.{WordRe, words}

  /** Fixed demo query (the reference hard-codes top-10 retrieval per
    * user question; the term set stands in for the analyzed question). */
  val QueryTerms: Seq[String] = Seq("vector", "spark", "hash", "window", "stream")
  val K1 = 1.2
  val B  = 0.75
  val TopN = 20

  /** The per-(doc,term) BM25 contribution in micro units, over columns
    * (idf_micro, tf, dl, n_docs, total_tokens) — ONE definition shared
    * by the relational body ([[bm25Batch]], in session or over stored
    * stats) and the row-local streaming scorer, so batch ≡ stored ≡
    * stream is structural. r = dl/avgdl computed as (dl·n_docs)/total —
    * exact int64 operands, ONE division; identical association order in
    * the SQL twin. */
  private[graft] def bm25Contrib(idfMicro: Column, tf: Column, dl: Column,
                                 nDocs: Column, total: Column): Column = {
    // each factor cast to double BEFORE the multiply (the t19 rule): the
    // int64 product dl·n_docs would overflow past ~2^63 at extreme
    // corpus sizes, while the double product is exact below 2^53 (all
    // test scales) and merely rounds above — harmless under the /avgdl
    // saturation. Same association order in the SQL twin.
    val r = (dl.cast("double") * nDocs.cast("double")) / total.cast("double")
    val denom = tf.cast("double") + lit(K1) * (lit(1.0 - B) + lit(B) * r)
    floor(idfMicro * (tf * lit(K1 + 1.0)) / denom).cast("long")
  }

  /** The +1-shifted (Lucene) IDF in floored micro-nats. */
  private def idfMicroCol(df: Column, nDocs: Column): Column =
    floor(log((nDocs - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) * 1e6).cast("long")

  /** THE relational BM25 body: (qid, doc_id, score_micro) for a batch
    * of analyzed queries, a (qid, term) relation, in ONE corpus pass.
    * The reference serves one embedded question per request
    * (conversationController.js:31-38); a serving tier batches them, and
    * the plan amortizes the corpus-sized work (one tokenize pass, one
    * per-(doc,term) tf aggregate over the UNION of all queries' terms)
    * across every query. df/idf are per-term collection statistics —
    * independent of which query asked — so the per-(doc,term)
    * contributions are computed ONCE and fan out to queries by a
    * broadcast (qid, term) join AFTER the corpus-sized work, never
    * corpus × queries. Terms no query asked for never enter the tf
    * shuffle (a broadcast semi-join on the batch's terms — a
    * post-explode filter, not a scan pushdown).
    *
    * Collection statistics: `stored = None` computes idf, n_docs and
    * total_tokens from the scored documents (in session); `Some(path)`
    * reads them from a [[t26StatsWrite]] artifact, frozen at index time
    * (scoring a new batch does not shift them — the Lucene segment
    * contract), whose vocabulary also drops out-of-index terms.
    *
    * A repeated (qid, term) pair counts twice: a single query enters
    * through [[queryRelation]], which keeps its distinct terms. */
  private[graft] def bm25Batch(docs: DataFrame, qterms: DataFrame,
      stored: Option[String] = None): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val asked = broadcast(qterms)
    val tf = toks.join(asked, Seq("term"), "left_semi")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val idf = stored match {
      case None =>
        val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
        tf.groupBy("term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(stats))
          .select(col("term"), idfMicroCol(col("df"), col("n_docs")).as("idf_micro"),
            col("n_docs"), col("total_tokens"))
      case Some(path) =>
        val s = docs.sparkSession
        Tables.parquet(s, s"$path/idf").select("term", "idf_micro")
          .join(asked, Seq("term"), "left_semi")
          .crossJoin(broadcast(
            Tables.parquet(s, s"$path/stats").select("n_docs", "total_tokens")))
    }
    tf.join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("term"),
        bm25Contrib(col("idf_micro"), col("tf"), col("dl"),
          col("n_docs"), col("total_tokens")).as("contrib"))
      .join(asked, Seq("term"))
      .groupBy("qid", "doc_id").agg(sum(col("contrib")).as("score_micro"))
  }

  /** One analyzed query as a [[bm25Batch]] input: qid 0 and its
    * distinct terms, as data rather than plan literals. */
  private[graft] def queryRelation(s: SparkSession, terms: Seq[String]): DataFrame = {
    import s.implicits._
    terms.distinct.map(t => (0L, t)).toDF("qid", "term")
  }

  /** One query's (doc_id, score_micro) sliver — t26 and the s13 lexical
    * leg. Only docs containing ≥1 query term appear. */
  private def bm25Query(docs: DataFrame, terms: Seq[String],
      stored: Option[String] = None): DataFrame =
    bm25Batch(docs, queryRelation(docs.sparkSession, terms), stored).drop("qid")

  // ---- the persisted lexical index (deployment twin) ----

  /** Persist the INDEX-TIME BM25 statistics for a corpus: the
    * full-vocabulary idf table (`path/idf`: term, df, idf_micro) and the
    * one-row corpus stats (`path/stats`: n_docs, total_tokens) — the
    * lexical index's model artifact (what Lucene freezes per segment).
    * Vocabulary-bound, so the artifact is tiny relative to the corpus;
    * at 100 TB it is built by the same two map-combined aggregates and
    * any later query is served WITHOUT touching the indexed corpus
    * again. Query-time idf reads keep the query's terms (a broadcast
    * semi-join on the vocab scan). */
  def t26StatsWrite(s: SparkSession, dir: String, path: String): Unit = {
    val toks = Tables.documents(s, dir).select("doc_id", "text")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl")).localCheckpoint()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
      .localCheckpoint()
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    toks.distinct().groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("df"), idfMicroCol(col("df"), col("n_docs")).as("idf_micro"))
      .write.mode("overwrite").parquet(s"$path/idf")
  }

  /** Score a (doc_id, text) batch against the stored stats: the
    * [[bm25Batch]] body with idf/n_docs/avgdl FROM THE ARTIFACT. On the
    * indexed corpus itself the scores are bit-identical to the
    * in-session query (spec-pinned). */
  def t26ScoreFrom(s: SparkSession, path: String, docs: DataFrame,
                   terms: Seq[String] = QueryTerms): DataFrame =
    bm25Query(docs, terms, stored = Some(path))

  /** ROW-LOCAL scoring column over (text, im: map<term,idf_micro>,
    * n_docs, total_tokens) — tf and dl from the document's own token
    * array, zero shuffles; the streaming scorer's projection (see
    * graft.streaming.StreamingBm25). Terms absent from the document
    * contribute exactly 0 (tf = 0 zeroes the numerator), matching the
    * relational form's missing (doc,term) rows; terms absent from the
    * INDEX vocabulary also contribute 0 (the `map_contains_key` guard —
    * under ANSI mode a bare `element_at` on a missing key throws, and
    * the batch scorer drops such terms via its idf join, so the guard
    * is what keeps stream ≡ batch on out-of-vocabulary query terms).
    * An empty term list scores 0 (the foldLeft seed). */
  private[graft] def bm25RowScore(toks: Column, im: Column,
                                  nDocs: Column, total: Column,
                                  terms: Seq[String]): Column = {
    val dl = size(toks)
    // per-term floored contributions, integer-summed (order-free)
    terms.map { t =>
      val tf = size(filter(toks, w => w === lit(t)))
      coalesce(
        when(tf > 0 && map_contains_key(im, lit(t)),
          bm25Contrib(element_at(im, lit(t)), tf, dl, nDocs, total)),
        lit(0L))
    }.foldLeft(lit(0L))(_ + _)
  }

  // ---- t27: multi-query batch scoring (the external-question shape) ----

  /** The t27 batch fixture: three analyzed user questions, one carrying
    * an out-of-vocabulary term (scores 0 — the bm25RowScore contract). */
  val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "spark", "hash"),
    1L -> Seq("window", "stream", "data"),
    2L -> Seq("table", "row", "zzqoov"))

  /** t27: the BM25 batch-serving query — top-10 docs per query for the
    * [[BatchQueries]] fixture, ranked within each qid. The public API is
    * [[t27Bm25Batch(s,dir,qterms)]] with an arbitrary (qid, term)
    * frame. */
  def t27Bm25Batch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterms = BatchQueries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    t27Bm25Batch(s, dir, qterms)
  }

  /** Batch BM25 from RAW question text — the reference's actual input
    * shape (`message` arrives as a string and is analyzed server-side):
    * a (qid, question) frame is tokenized with the SAME analyzer the
    * index uses (the words() regex — analyzer symmetry is the Lucene
    * rule), distinct terms per question, then scored as a term batch. */
  def t27FromQuestions(s: SparkSession, dir: String, questions: DataFrame): DataFrame =
    t27Bm25Batch(s, dir, questions
      .select(col("qid"), explode(words(col("question"))).as("term"))
      .distinct())

  /** Batch BM25 with a caller-supplied (qid, term) query frame. */
  def t27Bm25Batch(s: SparkSession, dir: String, qterms: DataFrame): DataFrame = {
    bm25Batch(Tables.documents(s, dir).select("doc_id", "text"), qterms)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("score_micro").desc, col("doc_id").asc)))
      .filter(col("rank") <= RrfK)
      .select("qid", "rank", "doc_id", "score_micro")
      .orderBy("qid", "rank")
  }

  lazy val t27Sql: String = {
    val qtermsValues = BatchQueries.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '$t')")
    }.mkString(", ")
    s"""WITH qterms AS (SELECT * FROM (VALUES $qtermsValues) AS q(qid, term)),
       |toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term
       | FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
       |tfc AS (
       | SELECT doc_id, term, count(*) AS tf FROM toks
       | WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY doc_id, term),
       |idf AS (
       | SELECT term,
       |  cast(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS bigint) AS idf_micro,
       |  n_docs, total_tokens
       | FROM (SELECT term, count(*) AS df FROM tfc GROUP BY term) dfc CROSS JOIN stats),
       |contribs AS (
       | SELECT tfc.doc_id, tfc.term,
       |  cast(floor(idf_micro * (tf * ${K1 + 1.0}) /
       |    (cast(tf AS double) + $K1 * (${1.0 - B} + $B *
       |      ((cast(dl AS double) * cast(n_docs AS double)) / cast(total_tokens AS double))))) AS bigint) AS contrib
       | FROM tfc JOIN idf USING (term) JOIN dl USING (doc_id)),
       |scored AS (
       | SELECT q.qid, c.doc_id, cast(sum(c.contrib) AS bigint) AS score_micro
       | FROM contribs c JOIN qterms q ON q.term = c.term
       | GROUP BY q.qid, c.doc_id)
       |SELECT cast(qid AS bigint) AS qid,
       | row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS rank,
       | doc_id, score_micro
       |FROM scored
       |QUALIFY rank <= $RrfK
       |ORDER BY qid, rank""".stripMargin
  }

  /** t26: BM25 top-20 over the documents corpus for the fixed query. */
  def t26Bm25(s: SparkSession, dir: String): DataFrame =
    bm25Query(Tables.documents(s, dir).select("doc_id", "text"), QueryTerms)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(TopN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
      .select("rank", "doc_id", "score_micro")
      .orderBy("rank")

  private val termsSqlList = QueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  private def bm25ScoredSql: String =
    s"""toks AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$WordRe')) AS term
       | FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
       |tfc AS (
       | SELECT doc_id, term, count(*) AS tf FROM toks
       | WHERE term IN $termsSqlList GROUP BY doc_id, term),
       |idf AS (
       | SELECT term,
       |  cast(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1e6) AS bigint) AS idf_micro,
       |  n_docs, total_tokens
       | FROM (SELECT term, count(*) AS df FROM tfc GROUP BY term) dfc CROSS JOIN stats),
       |contribs AS (
       | SELECT tfc.doc_id,
       |  cast(floor(idf_micro * (tf * ${K1 + 1.0}) /
       |    (cast(tf AS double) + $K1 * (${1.0 - B} + $B *
       |      ((cast(dl AS double) * cast(n_docs AS double)) / cast(total_tokens AS double))))) AS bigint) AS contrib
       | FROM tfc JOIN idf USING (term) JOIN dl USING (doc_id)),
       |scored AS (
       | SELECT doc_id, cast(sum(contrib) AS bigint) AS score_micro
       | FROM contribs GROUP BY doc_id)""".stripMargin

  val t26Sql: String =
    s"""WITH ${bm25ScoredSql}
       |SELECT row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank,
       | doc_id, score_micro
       |FROM scored
       |QUALIFY rank <= $TopN
       |ORDER BY rank""".stripMargin

  /** RRF constant (Cormack et al. use 60) and per-leg numerator: the
    * standard 1/(c+rank) scaled to exact integers at nano resolution —
    * floor(1e9/(60+rank)) is collision-free for ranks ≤ 20. */
  val RrfC = 60
  val RrfK = 10
  /** Dense-leg query: the corpus vector standing in for the embedded
    * user question (the reference embeds the question then queries the
    * index; qid 0 is that embedding here). */
  val DenseQid = 0

  /** s13: hybrid retrieval — BM25 leg (t26's top-20) fused with the
    * dense cosine leg (top-20 neighbors of embedding 0, doc_id ≡
    * vec_id — the store keys vectors by document id) by reciprocal-rank
    * fusion: rrf_nano = Σ_legs floor(1e9/(60+rank)), absent leg → 0.
    * Output: top-10 fused (rank, doc_id, rrf_nano, lex_rank,
    * dense_rank) with 0 marking "not in that leg's list".
    *
    * The dense ranking is engine-internal float order (the Similarity
    * family's rank-stability contract); everything downstream of the
    * two rank lists is exact integer arithmetic. */
  def s13RrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val (docs, e) = ragTables(s, dir)
    s13Fused(docs, e, QueryTerms, storeQuery(e), excludeSelf = true)
  }

  /** The two tables a retrieval turn reads, each loaded once per turn
    * and handed to every leg that scans it. */
  private def ragTables(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (Tables.documents(s, dir).select("doc_id", "text"),
      Tables.embeddings(s, dir).select("vec_id", "embedding"))

  /** The registered rows' dense query: store member [[DenseQid]]. */
  private def storeQuery(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === DenseQid)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))

  /** An external one-row (qemb) query frame, keyed like [[storeQuery]]. */
  private def externalQuery(queryVec: DataFrame): DataFrame =
    queryVec.select(lit(-1L).as("qid"), col("qemb"))

  /** [[s13RrfHybrid]] for an EXTERNAL serving query: an analyzed term
    * list for the lexical leg and a one-row (qemb) embedding frame for
    * the dense leg — the reference's actual input (an embedded user
    * question, conversationController.js:31-38), which is NOT a store
    * member, so no self-exclusion. */
  def s13RrfHybridFor(s: SparkSession, dir: String, terms: Seq[String],
      queryVec: DataFrame): DataFrame = {
    val (docs, e) = ragTables(s, dir)
    s13Fused(docs, e, terms, externalQuery(queryVec), excludeSelf = false)
  }

  private def s13Fused(docs: DataFrame, e: DataFrame, terms: Seq[String],
      q: DataFrame, excludeSelf: Boolean): DataFrame = {
    val lex = bm25Query(docs, terms)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(TopN)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc)))
      .select("doc_id", "lex_rank")
    val denseBase =
      if (excludeSelf) e.join(broadcast(q), col("vec_id") =!= col("qid"))
      else e.crossJoin(broadcast(q))
    val dense = denseBase
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), TopN).as("nbrs"))
      .select(posexplode(col("nbrs")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), (col("pos") + 1).as("dense_rank"))
    val rrf = (rk: Column) =>
      when(rk.isNull, lit(0L)).otherwise(floor(lit(1e9) / (lit(RrfC) + rk)).cast("long"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (rrf(col("lex_rank")) + rrf(col("dense_rank"))).as("rrf_nano"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).cast("int").as("dense_rank"))
      .orderBy(col("rrf_nano").desc, col("doc_id").asc)
      .limit(RrfK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_nano").desc, col("doc_id").asc)))
      .select("rank", "doc_id", "rrf_nano", "lex_rank", "dense_rank")
      .orderBy("rank")
  }

  /** The s13 WITH-body up to the ranked fused top-10 — shared by the
    * s13 oracle and p4's (which keeps composing past it). */
  private def fusedCtesSql: String =
    s"""${bm25ScoredSql},
       |lex AS (
       | SELECT doc_id, rank AS lex_rank FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
       |  FROM scored) WHERE rank <= $TopN),
       |dense AS (
       | SELECT v.vec_id AS doc_id,
       |  row_number() OVER (
       |   ORDER BY list_cosine_similarity(q.embedding, v.embedding) DESC, v.vec_id ASC) AS dense_rank
       | FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
       | WHERE q.vec_id = $DenseQid
       | QUALIFY dense_rank <= $TopN),
       |fused AS (
       | SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
       |  coalesce(cast(floor(1e9 / ($RrfC + lex_rank)) AS bigint), 0) +
       |  coalesce(cast(floor(1e9 / ($RrfC + dense_rank)) AS bigint), 0) AS rrf_nano,
       |  cast(coalesce(lex_rank, 0) AS int) AS lex_rank,
       |  cast(coalesce(dense_rank, 0) AS int) AS dense_rank
       | FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id),
       |fusedtop AS (
       | SELECT * FROM (
       |  SELECT row_number() OVER (ORDER BY rrf_nano DESC, doc_id ASC) AS rank,
       |   doc_id, rrf_nano, lex_rank, dense_rank
       |  FROM fused) WHERE rank <= $RrfK)""".stripMargin

  val s13Sql: String =
    s"""WITH $fusedCtesSql
       |SELECT rank, doc_id, rrf_nano, lex_rank, dense_rank
       |FROM fusedtop
       |ORDER BY rank""".stripMargin

  // ---- p4: the composed RAG serving pipeline ----

  /** Context slots the packer fills (the reference feeds its top matches
    * straight into the prompt; 5 diversified slots is the MMR default). */
  val P4K = 5

  /** p4: the reference's SERVING flow composed end-to-end as ONE query
    * (conversationController.js:31-38 embeds the question, queries the
    * index top-10, and stuffs the matches into the prompt — this is
    * that flow with the two modern upgrades a production RAG stack
    * runs): hybrid retrieve (s13's BM25 ⊕ dense RRF fusion, top-10) →
    * MMR diversity re-rank over the shortlist's embeddings (s12's
    * greedy at λ=0.5, 5 slots) → token-budget ledger (per-doc word
    * count + running total — what the prompt assembler checks against
    * the context window).
    *
    * Scale: the two corpus-sized legs are t26's tokenize pass and the
    * bounded dense top-k; EVERYTHING past the fused top-10 — candidate
    * embeddings (broadcast sliver join), pairwise sims, the greedy
    * unroll, the token ledger — is ≤10-row sliver work, exactly the
    * split a serving tier runs. MMR operates on candidates HAVING
    * embeddings (lex-only hits without a stored vector can't be
    * diversity-scored; membership is engine-agnostic so both engines
    * agree). Output is rank-only (the s1 stability rule) plus exact
    * integer token counts. */
  def p4RagContext(s: SparkSession, dir: String): DataFrame = {
    val (docs, e) = ragTables(s, dir)
    val q = storeQuery(e)
    p4Frame(docs, e, s13Fused(docs, e, QueryTerms, q, excludeSelf = true), q)
  }

  /** [[p4RagContext]] for an EXTERNAL serving query — the full composed
    * pipeline (hybrid retrieve → MMR → token ledger) on an analyzed
    * term list + a one-row (qemb) embedding frame. */
  def p4RagContextFor(s: SparkSession, dir: String, terms: Seq[String],
      queryVec: DataFrame): DataFrame = {
    val (docs, e) = ragTables(s, dir)
    val q = externalQuery(queryVec)
    p4Frame(docs, e, s13Fused(docs, e, terms, q, excludeSelf = false), q)
  }

  private def p4Frame(docs: DataFrame, e: DataFrame, fused: DataFrame,
      q: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cand0 = e.join(broadcast(fused.select(col("doc_id"))), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(q.select(col("qemb"))))
      .select(col("doc_id"), V.cosine(col("qemb"), col("embedding")).as("rel"),
        col("embedding").as("cemb"))
    // broadcast-local greedy (Similarity.mmrGreedyLocal — bit-identical
    // rounds): the candidate sliver is RrfK-bounded (≤10 rows — the
    // fused top-RrfK × a one-row query), so the whole unroll is one
    // collect + driver arithmetic at any corpus size and needs no size
    // gate
    val cs = cand0.collect().map(r => (0L, r.getLong(0), r.getDouble(1),
      r.getSeq[Float](2).toArray))
    p4Ledger(docs,
      Similarity.mmrGreedyLocal(cs, P4K, Similarity.MmrLambda)
        .map { case (_, id, rank) => (id, rank) }
        .toDF("doc_id", "rank").coalesce(1))
  }

  /** The token-budget ledger tail of p4. */
  private def p4Ledger(docs: DataFrame, sel: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    sel.join(toks, Seq("doc_id"))
      .withColumn("cum_tokens",
        sum(col("n_tokens")).over(Window.orderBy(col("rank"))))
      .select("rank", "doc_id", "n_tokens", "cum_tokens")
      .orderBy("rank")
  }

  /** DuckDB twin: the fused CTEs + the same greedy unroll (no qid key —
    * one serving query) + the token ledger. */
  lazy val p4Sql: String = {
    val lam = Similarity.MmrLambda
    val rounds = (2 to P4K).map { r =>
      val prev = (1 until r).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s"""selu${r - 1} AS ($prev),
         |pick$r AS (
         | SELECT c.doc_id, $lam * c.rel - ${1.0 - lam} * max(p.sim) AS mmr
         | FROM cand c
         | JOIN cpairs p ON p.a = c.doc_id
         | JOIN selu${r - 1} s ON s.doc_id = p.b
         | WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x WHERE x.doc_id = c.doc_id)
         | GROUP BY c.doc_id, c.rel),
         |sel$r AS (
         | SELECT doc_id, $r AS rank FROM pick$r
         | QUALIFY row_number() OVER (ORDER BY mmr DESC, doc_id ASC) = 1)""".stripMargin
    }.mkString(",\n")
    val allSel = (1 to P4K).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH $fusedCtesSql,
       |cand AS (
       | SELECT f.doc_id,
       |  list_cosine_similarity(q.embedding, v.embedding) AS rel,
       |  v.embedding AS cemb
       | FROM fusedtop f
       | JOIN embeddings v ON v.vec_id = f.doc_id
       | CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = $DenseQid) q),
       |cpairs AS (
       | SELECT a.doc_id AS a, b.doc_id AS b, list_cosine_similarity(a.cemb, b.cemb) AS sim
       | FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
       |sel1 AS (
       | SELECT doc_id, 1 AS rank FROM cand
       | QUALIFY row_number() OVER (ORDER BY rel DESC, doc_id ASC) = 1),
       |$rounds,
       |allsel AS ($allSel),
       |ledger AS (
       | SELECT doc_id, cast(len(regexp_extract_all(lower(text), '$WordRe')) AS bigint) AS n_tokens
       | FROM documents)
       |SELECT s.rank, s.doc_id, l.n_tokens,
       | cast(sum(l.n_tokens) OVER (ORDER BY s.rank) AS bigint) AS cum_tokens
       |FROM allsel s JOIN ledger l ON l.doc_id = s.doc_id
       |ORDER BY s.rank""".stripMargin
  }

  // ---- p6: the composed RAG INDEX BUILD (the reference's ingest side) ----

  /** p6: the RAG ingest flow composed end-to-end as ONE query — the
    * reference's custom-train-data path (customTrainDataController.js:
    * 28-86: uploaded file → RecursiveCharacterTextSplitter → embed each
    * chunk → HNSWLib index → save), re-expressed for the inverted-file
    * store this library serves from (the HNSW decision record, SURVEY
    * §4): documents → t5's fixed-stride chunking (pure generated
    * explode) → per-chunk STUB embedding (8 dims, each the md5-derived
    * dyadic k/1024 — m3's documented decode-surrogate contract: a real
    * deployment swaps in a model via mapInPandas, every shape
    * downstream identical) → map-only coarse assignment against the
    * 8-entry codebook (each doc<8's first chunk — the s16 fixture rule)
    * → the INDEX LEDGER a build job is judged by: per inverted list,
    * vectors, distinct source docs, and share of the store in exact
    * integer ppm (the balance report that decides whether nlist/codebook
    * need retraining before the index ships).
    *
    * Plan: chunk + embed + assign are ONE fused map stage over the scan
    * (codebook is a one-row broadcast); the only aggregation is the
    * cid-bound ledger + a one-row broadcast total. At 100 TB the build
    * writes cid-partitioned lists off this exact frame (IvfIndex.build);
    * the ledger rides the same pass. */
  def p6RagIndexBuild(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val chunks = Tables.documents(s, dir).select("doc_id", "text")
      .filter(length(col("text")) > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0),
          ceil(length(col("text")).cast("double") / TA.ChunkStep).cast("int") - 1)))
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, chunk_idx * ${TA.ChunkStep} + 1, ${TA.ChunkSize})").as("chunk"))
    // 8-dim stub embedding: dim k = ((md5('k' || chunk)[1..15hex] % 1024) - 512)/1024,
    // dyadic so the engine's float32 equals the oracle's float64 bit-for-bit
    val embedded = chunks.withColumn("emb", expr(
      """transform(sequence(0, 7), k ->
        | cast(cast(cast(conv(substring(md5(cast(concat(cast(k as string), chunk) as binary)), 1, 15), 16, 10)
        |   as bigint) % 1024 - 512 as double) / 1024.0 as float))""".stripMargin))
      .select("doc_id", "chunk_idx", "emb")
    val cent = embedded.filter(col("chunk_idx") === 0 && col("doc_id") < 8)
      .select(col("doc_id").as("cid"), col("emb").as("cemb"))
    val cb = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = embedded.crossJoin(broadcast(cb))
      .select(col("doc_id"),
        element_at(col("cids"), V.nearest(col("emb"), col("cembs")) + 1).as("cid"))
    val total = assigned.agg(count(lit(1)).as("total"))
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"), countDistinct(col("doc_id")).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("cid"), col("n_vectors"), col("n_docs"),
        expr("n_vectors * 1000000 div total").as("share_ppm"))
      .orderBy("cid")
  }

  lazy val p6Sql: String = {
    val step = graft.operators.TextAnalysis.ChunkStep
    val size = graft.operators.TextAnalysis.ChunkSize
    s"""WITH chunks AS (
       | SELECT doc_id, i AS chunk_idx, substr(text, i * $step + 1, $size) AS chunk
       | FROM (SELECT doc_id, text,
       |    unnest(range(0, cast(ceil(length(text) / $step.0) AS int))) AS i
       |   FROM documents WHERE length(text) > 0)),
       |emb AS (
       | SELECT doc_id, chunk_idx,
       |  [cast((('0x' || substr(md5(k::varchar || chunk), 1, 15))::bigint % 1024) - 512 AS double) / 1024
       |   for k in generate_series(0, 7)] AS embedding
       | FROM chunks),
       |cent AS (SELECT doc_id AS cid, embedding AS cemb FROM emb
       |         WHERE chunk_idx = 0 AND doc_id < 8),
       |assigned AS (
       | SELECT e.doc_id, c.cid FROM emb e CROSS JOIN cent c
       | QUALIFY row_number() OVER (PARTITION BY e.doc_id, e.chunk_idx
       |   ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1),
       |tot AS (SELECT count(*) AS total FROM assigned)
       |SELECT cid, cast(count(*) AS bigint) AS n_vectors,
       | cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
       | cast(count(*) * 1000000 // total AS bigint) AS share_ppm
       |FROM assigned CROSS JOIN tot GROUP BY cid, total ORDER BY cid""".stripMargin
  }
}
