package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** t26 BM25 + s13 RRF hybrid: definition fixtures recomputed driver-side
  * from first principles, plus structural properties on the real corpus. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def tokenize(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq

  /** Driver-side BM25 from the definition — the same float ops in the
    * same association order as the operator's contract. */
  private def bm25Reference(corpus: Seq[(Long, String)]): Map[Long, Long] = {
    val toks = corpus.map { case (id, t) => id -> tokenize(t) }
    val dl = toks.map { case (id, ws) => id -> ws.length.toLong }.toMap
    val nDocs = corpus.size.toLong
    val total = dl.values.sum
    val tf = toks.flatMap { case (id, ws) =>
      ws.filter(Retrieval.QueryTerms.contains).groupBy(identity)
        .map { case (w, g) => (id, w, g.size.toLong) }
    }
    val df = tf.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val idfMicro = df.map { case (w, d) =>
      w -> math.floor(math.log((nDocs - d + 0.5) / (d + 0.5) + 1.0) * 1e6).toLong
    }
    tf.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map { case (_, w, t) =>
        val r = (dl(id).toDouble * nDocs.toDouble) / total.toDouble
        val denom = t.toDouble + Retrieval.K1 * ((1.0 - Retrieval.B) + Retrieval.B * r)
        math.floor(idfMicro(w) * (t * (Retrieval.K1 + 1.0)) / denom).toLong
      }.sum
    }
  }

  test("bm25 scores match a driver-side recompute from the definition (fixture)") {
    val corpus = Seq[(Long, String)](
      (1L, "spark hash join window stream spark spark"),
      (2L, "vector vector vector stream"),
      (3L, "nothing relevant here at all"),
      (4L, "window window hash"),
      (5L, "spark"))
    val df = corpus.toDF("doc_id", "text")
    val got = Retrieval.bm25Batch(df, Retrieval.queryRelation(spark, Retrieval.QueryTerms))
      .drop("qid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = bm25Reference(corpus)
    assert(got == want)
    assert(!got.contains(3L)) // no query term -> not scored
  }

  test("t26 output is a well-formed dense ranking on the corpus") {
    val rows = Retrieval.t26Bm25(spark, sfDir).collect()
    assert(rows.length == Retrieval.TopN)
    assert(rows.map(_.getInt(0)).toSeq == (1 to Retrieval.TopN))
    val scores = rows.map(r => (r.getLong(2), r.getLong(1)))
    // ordered by (score desc, doc_id asc)
    assert(scores.toSeq == scores.sortBy { case (s, id) => (-s, id) }.toSeq)
    assert(scores.forall(_._1 > 0))
  }

  test("t26 scores agree with the driver-side recompute on the real corpus") {
    val corpus = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val want = bm25Reference(corpus)
    val got = Retrieval.t26Bm25(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getLong(2))
    got.foreach { case (id, s) => assert(want(id) == s, s"doc $id") }
    // and the returned 20 really are the global top-20 under the tie-break
    val topWant = want.toSeq.sortBy { case (id, s) => (-s, id) }.take(Retrieval.TopN)
    assert(got.toSeq == topWant.map { case (id, s) => (id, s) })
  }

  test("s13 fusion equals the exact RRF merge of its two legs") {
    val out = Retrieval.s13RrfHybrid(spark, sfDir).collect()
    assert(out.length == Retrieval.RrfK)
    assert(out.map(_.getInt(0)).toSeq == (1 to Retrieval.RrfK))
    // rebuild both legs independently
    val lex = Retrieval.t26Bm25(spark, sfDir).collect()
      .map(r => r.getLong(1) -> r.getInt(0)).toMap
    val e = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val qemb = e.find(_._1 == Retrieval.DenseQid).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val dense = e.filter(_._1 != Retrieval.DenseQid)
      .map { case (id, v) => (id, cos(qemb, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(Retrieval.TopN)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    def rrf(rk: Option[Int]): Long =
      rk.map(r => math.floor(1e9 / (Retrieval.RrfC + r)).toLong).getOrElse(0L)
    val fusedWant = (lex.keySet ++ dense.keySet).toSeq
      .map(id => (id, rrf(lex.get(id)) + rrf(dense.get(id)), lex.getOrElse(id, 0), dense.getOrElse(id, 0)))
      .sortBy { case (id, s, _, _) => (-s, id) }.take(Retrieval.RrfK)
    val got = out.map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))).toSeq
    assert(got == fusedWant)
  }

  test("p4 equals the driver-side composition: fuse, MMR-diversify, token ledger") {
    val fusedIds = Retrieval.s13RrfHybrid(spark, sfDir).collect()
      .sortBy(_.getInt(0)).map(_.getLong(1)).toSeq
    val e = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val qe = e(Retrieval.DenseQid.toLong)
    val cand = fusedIds.filter(e.contains).map(id => id -> cos(qe, e(id))).toMap
    val lam = Similarity.MmrLambda
    var selected = Vector.empty[Long]
    while (selected.length < Retrieval.P4K && selected.length < cand.size) {
      val pick = cand.keys.toSeq.filterNot(selected.contains).map { c =>
        val m = if (selected.isEmpty) cand(c)
                else lam * cand(c) - (1.0 - lam) * selected.map(s => cos(e(c), e(s))).max
        (c, m)
      }.minBy { case (c, m) => (-m, c) }._1
      selected :+= pick
    }
    val toks = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      .map { case (id, t) => id -> "[a-z0-9]+".r.findAllIn(t.toLowerCase).length.toLong }
    val want = selected.zipWithIndex.map { case (id, i) => (i + 1, id, toks(id)) }
      .scanLeft((0, 0L, 0L, 0L)) { case ((_, _, _, cum), (r, id, n)) => (r, id, n, cum + n) }
      .drop(1)
    val got = Retrieval.p4RagContext(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want)
    assert(got.nonEmpty && got.map(_._1) == (1 to got.length))
  }

  test("t27 from raw question text equals the analyzed term-batch form") {
    import spark.implicits._
    // same analyzer as the index (words regex), duplicate terms within a
    // question must not double-count
    val questions = Seq(
      (0L, "Vector SPARK hash... vector hash?"),
      (1L, "window stream data window"),
      (2L, "table row zzqoov row")).toDF("qid", "question")
    val viaText = Retrieval.t27FromQuestions(spark, sfDir, questions)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val viaTerms = Retrieval.t27Bm25Batch(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(viaText == viaTerms)
  }

  test("s13 rrf_nano is exact integer arithmetic over the two rank columns") {
    Retrieval.s13RrfHybrid(spark, sfDir).collect().foreach { r =>
      val (nano, lexR, denseR) = (r.getLong(2), r.getInt(3), r.getInt(4))
      def part(rk: Int) = if (rk == 0) 0L else math.floor(1e9 / (Retrieval.RrfC + rk)).toLong
      assert(nano == part(lexR) + part(denseR))
      assert(lexR > 0 || denseR > 0)
    }
  }
}
