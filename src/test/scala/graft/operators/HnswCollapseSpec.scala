package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** p11: near-dup collapse → graph index → serve — the composed pipeline
  * that routes around the graph family's one documented limit (r15
  * receipt: 100-member near-tie clusters at 200k drove the raw read's
  * recall@5 to 0.06 at ef=64 — M=6 navigation cannot thread dense
  * colinear chains). The pipeline collapses each near-dup FAMILY to one
  * graph node and re-expands hits with exact rescoring, so the chains
  * never reach the index. Engine-defined graph ⇒ spec class (driver
  * records rows-only); this spec pins the flag-clearing claims:
  *   - the collapse maps every vector to a family rep (coverage, reps
  *     self-canonical, real shrinkage on clustered mass),
  *   - END-TO-END recall ≥ 0.9 on a planted dense-cluster corpus of
  *     exactly the adversarial shape (near-tie chains along one dim),
  *   - on a near-dup-free corpus the pipeline serves EXACTLY what the
  *     raw s21 read serves (the collapse is an identity there). */
class HnswCollapseSpec extends SparkSpec {
  import spark.implicits._

  /** Planted dense-cluster corpus: 200 base vectors (the sf corpus), 50
    * near-tie members each — member j perturbs dim 0 by j·0.002, so each
    * family is a colinear chain with every member DISTINCT (a replica
    * family made full-cardinality), all within-family cosines ≫ the
    * 0.99 collapse threshold, nothing organic across families. 10 000 rows >
    * CollapseExactThreshold, so the collapse runs its bucketed iterate
    * rounds AND the exact finishing pass — the full registered scale
    * machinery. */
  private lazy val clustered = {
    val base = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .filter(col("vec_id") < 200)
    base.select(col("vec_id"), explode(array((0 until 50).map(lit(_)): _*)).as("j"),
        col("embedding"))
      .select((col("vec_id") * 100 + col("j")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, (x.cast("double") + col("j").cast("double") * 0.002)
            .cast("float")).otherwise(x)).as("embedding"))
  }

  test("p11 collapse: full coverage, self-canonical reps, real shrinkage on clustered mass") {
    val corpus = clustered.localCheckpoint()
    val m = Hnsw.nearDupCollapse(corpus)
    assert(m.count() == 10000)
    // every rep is a corpus member that maps to itself
    val badRep = m.select(col("rep").as("vec_id")).distinct()
      .join(m.filter(col("vec_id") === col("rep")), Seq("vec_id"), "left_anti")
      .count()
    assert(badRep == 0, s"$badRep reps are not self-canonical")
    // families actually collapse: the iterate + exact-finish machinery
    // lands at ~one rep per 50-member family (fragments are near-dups of
    // each other, so the exact pass closes whatever the rings split)
    val reps = m.select("rep").distinct().count()
    assert(reps <= 400, s"collapse left $reps reps of 10000 (expected ~200)")
    // members land with their own family: a rep and its members share
    // the family's base (vec_id / 100) — the planted geometry has no
    // cross-family near-dups, so no component may span two bases
    val crossFamily = m.filter(floor(col("vec_id") / 100) =!=
      floor(col("rep") / 100)).count()
    assert(crossFamily == 0, s"$crossFamily members collapsed across families")
    graft.Checkpoints.release(m)
    graft.Checkpoints.release(corpus)
  }

  test("p11 end-to-end recall >= 0.9 on the dense-cluster shape that defeats the raw read") {
    val corpus = clustered.localCheckpoint()
    val qs = Similarity.externalQueries(spark, sfDir).localCheckpoint()
    val got = Hnsw.collapseServe(corpus, qs)
    // tie-robust recall: a served id is a hit iff its TRUE cosine clears
    // the query's K-th brute-force cosine (minus 1e-9), so id mismatches
    // among equal- or near-equal-scoring members are not misses —
    // near-tie members are interchangeable by construction
    val cos = graft.functions.VectorExpressions.cosine _
    val nemb = corpus.select(col("vec_id").as("neighbor"), col("embedding").as("nemb"))
    val gotScored = got.join(nemb, Seq("neighbor")).join(qs, Seq("qid"))
      .select(col("qid"), cos(col("qemb"), col("nemb")).as("sc"))
    val thr = Similarity.bruteTopKFrame(corpus, qs, Hnsw.K, excludeSelf = false)
      .join(nemb, Seq("neighbor")).join(qs, Seq("qid"))
      .groupBy("qid").agg(min(cos(col("qemb"), col("nemb"))).as("thr"))
    val joined = gotScored.join(thr, Seq("qid")).localCheckpoint()
    val hits = joined.filter(col("sc") >= col("thr") - 1e-9).count()
    val total = joined.count()
    val recall = hits.toDouble / total
    assert(total == Similarity.NumExternalQueries.toLong * Hnsw.K)
    assert(recall >= 0.9, f"composed dense-cluster recall@5 = $recall%.3f")
    graft.Checkpoints.release(joined)
    graft.Checkpoints.release(got)
    graft.Checkpoints.release(qs)
    graft.Checkpoints.release(corpus)
  }

  test("p11 registered query: identity collapse serves exactly the raw s21 read") {
    val p11 = Hnsw.p11CollapseServe(spark, sfDir).collect()
    val s21 = Hnsw.s21HnswTopK(spark, sfDir).collect()
    assert(p11.nonEmpty && p11.sameElements(s21),
      "p11 on a near-dup-free corpus must serve the raw graph read's exact rows")
  }
}
