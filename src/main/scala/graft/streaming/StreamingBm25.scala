package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, TextAnalysis}

/** Online LEXICAL SCORING: score an arriving document stream against the
  * STORED BM25 index statistics (graft.operators.Retrieval.t26StatsWrite)
  * — the streaming twin of t26ScoreFrom, for ingest pipelines that
  * route/filter documents by query relevance AS they arrive (alerting,
  * standing queries, topic-feed routing).
  *
  * Shape: completely STATELESS and shuffle-free (the StreamingSelect
  * pattern): the query's idf sliver collapses to a one-row MAP column
  * (term → idf_micro) cross-joined as a broadcast static side together
  * with the frozen (n_docs, total_tokens) row; each document then scores
  * inside one projection — tf and dl come from the document's OWN token
  * array (Retrieval.bm25RowScore), so no per-doc grouping is needed.
  * No keyed state, no watermark: every micro-batch emits scores in
  * append mode. Collection statistics are FROZEN at index time (the
  * Lucene segment contract) — a re-indexed artifact requires a query
  * restart against the new path (the StreamingSelect rule: the static
  * side's file listing is cached at DataFrame creation).
  *
  * The scoring arithmetic is the same [[Retrieval.bm25Contrib]] column
  * the batch paths use — one definition, three deployment shapes —
  * so stream ≡ stored-batch ≡ in-session scores bit-for-bit
  * (spec-pinned in StreamingBm25Spec).
  */
object StreamingBm25 {

  /** Score a (doc_id, text) stream against a stored stats artifact
    * (idf frame + one-row stats frame read as static DataFrames).
    * Emits (doc_id, score_micro) for every stream doc containing at
    * least one query term — the same contract as the batch scorer. */
  def scoreAgainstStore(stream: DataFrame, idf: DataFrame, stats: DataFrame,
                        terms: Seq[String] = Retrieval.QueryTerms): DataFrame = {
    // an empty `array()` literal types as array<null> and fails the
    // array_intersect analysis — give the degenerate no-terms case
    // (reachable through the public parameter) an explicit string type;
    // the scorer's foldLeft seed then scores nothing, emitting no rows
    val termsArr =
      if (terms.isEmpty) array().cast("array<string>")
      else array(terms.map(lit): _*)
    val model = idf.filter(array_contains(termsArr, col("term")))
      .agg(map_from_entries(collect_list(struct(col("term"), col("idf_micro")))).as("im"))
      .crossJoin(stats.select(col("n_docs"), col("total_tokens")))
    stream
      .withColumn("toks", TextAnalysis.words(col("text")))
      .filter(size(array_intersect(col("toks"), termsArr)) > 0)
      .crossJoin(broadcast(model))
      // membership matches the batch scorer exactly: a doc whose only
      // query terms are absent from the INDEX vocabulary is dropped
      // (its tf-idf join rows don't exist there), not emitted as 0
      .filter(size(array_intersect(col("toks"), map_keys(col("im")))) > 0)
      .select(col("doc_id"),
        Retrieval.bm25RowScore(col("toks"), col("im"),
          col("n_docs"), col("total_tokens"), terms).as("score_micro"))
  }
}
