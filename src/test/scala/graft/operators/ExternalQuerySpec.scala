package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The external-query serving surface (round-11): every ANN/retrieval
  * operator accepts a (qid, qemb) batch whose vectors are NOT corpus
  * members — the reference's normal case (it embeds an arbitrary user
  * question and queries the store with it). The oracle rows s15/s16
  * drive the brute-force and recall paths; these specs pin the
  * generator's contract and the `*For` variants against driver-side
  * recomputes on the real sf corpus.
  */
class ExternalQuerySpec extends SparkSpec {

  private lazy val corpus: Map[Long, Array[Float]] =
    Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  /** Driver-side recompute of the 3:1 blend, float-rounded like the engine. */
  private lazy val extq: Map[Long, Array[Float]] =
    (0L until Similarity.NumExternalQueries.toLong).map { q =>
      val a = corpus(2 * q); val b = corpus(2 * q + 1)
      q -> a.indices.map(i => ((3.0 * a(i) + b(i)) / 4.0).toFloat).toArray
    }.toMap

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  private def bruteTop(q: Array[Float], pool: Map[Long, Array[Float]], k: Int): Seq[Long] =
    pool.toSeq.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  test("externalQueries: 10 float-exact blends, none a corpus member") {
    val got = Similarity.externalQueries(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(got.keySet == extq.keySet)
    got.foreach { case (q, v) =>
      assert(v.sameElements(extq(q)), s"qid $q blend mismatch")
    }
    val members = corpus.values.map(_.toSeq).toSet
    assert(got.values.forall(v => !members.contains(v.toSeq)),
      "an external query collided with a stored vector")
  }

  test("s15 equals the driver-side brute force; rank 1 is the 3-weighted parent") {
    val got = Similarity.s15ExternalTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    extq.foreach { case (q, v) =>
      assert(byQ(q) == bruteTop(v, corpus, 5), s"qid $q top-5 mismatch")
      assert(byQ(q).head == 2 * q, s"qid $q rank-1 should be its dominant parent")
    }
  }

  test("s17 external ADC serving: exact answer shape, strong overlap with the truth") {
    val got = Similarity.s17ExternalAdcServe(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byQ.keySet == extq.keySet)
    assert(byQ.values.forall(_.length == 5), "every query answers exactly top-5")
    // compressed-tier recall vs the driver-side truth: nprobe=2 of 8
    // lists + shortlist-25 + exact re-rank recovers most of the true
    // top-5 (measured 35/50 on the sf0.001 corpus — deterministic)
    val overlap = extq.toSeq.map { case (q, v) =>
      byQ(q).toSet.intersect(bruteTop(v, corpus, 5).toSet).size
    }.sum
    assert(overlap >= 30, s"compressed-tier overlap too low: $overlap/50")
    assert(got.forall { case (_, _, n) => corpus.contains(n) })
  }

  test("s5FilteredTopKFor honors the label filter and the brute-force order") {
    val labels = Tables.embeddings(spark, sfDir).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val allowed = Set(1, 2, 3)
    val pool = corpus.filter { case (id, _) => allowed(labels(id)) }
    val got = Similarity.s5FilteredTopKFor(spark, sfDir,
        Similarity.externalQueries(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall { case (_, _, n) => allowed(labels(n)) })
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    extq.foreach { case (q, v) => assert(byQ(q) == bruteTop(v, pool, 5)) }
  }

  test("s14BinaryTopKFor ranks by exact hamming on identically-packed codes") {
    def code(v: Array[Float]): Long =
      v.take(64).zipWithIndex.foldLeft(0L) { case (acc, (x, d)) =>
        if (x > 0f) acc + (1L << d) else acc }
    val codes = corpus.view.mapValues(code).toMap
    val got = Similarity.s14BinaryTopKFor(spark, sfDir,
        Similarity.externalQueries(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.length == Similarity.NumExternalQueries * 5)
    got.foreach { case (q, _, n, h) =>
      assert(java.lang.Long.bitCount(code(extq(q)) ^ codes(n)) == h)
    }
    // the emitted list IS the exact hamming top-5 (ties by id ASC)
    val byQ = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    extq.foreach { case (q, v) =>
      val expect = codes.toSeq
        .map { case (id, c) => (id, java.lang.Long.bitCount(code(v) ^ c)) }
        .sortBy { case (id, h) => (h, id) }.take(5).map(_._1)
      assert(byQ(q) == expect, s"qid $q hamming top-5 mismatch")
    }
  }

  test("s11Sq8TopKFor quantizes the query against the stored range") {
    val out = Similarity.s11Sq8TopKFor(spark, sfDir,
        Similarity.externalQueries(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == Similarity.NumExternalQueries * 5)
    // SQ8 at 8 bits is near-lossless: the dominant parent still ranks 1
    val rank1 = out.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    extq.keys.foreach(q => assert(rank1(q) == 2 * q))
  }

  test("s12MmrRerankFor: greedy diversity over an external batch") {
    val out = Similarity.s12MmrRerankFor(spark, sfDir,
        Similarity.externalQueries(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == Similarity.NumExternalQueries * Similarity.MmrK)
    val byQ = out.groupBy(_._1)
    byQ.foreach { case (q, rows) =>
      val sel = rows.sortBy(_._2).map(_._3).toSeq
      assert(sel.distinct == sel, s"qid $q re-selected a candidate")
      // rank 1 is pure relevance: the brute-force nearest neighbor
      assert(sel.head == bruteTop(extq(q), corpus, 1).head)
    }
  }

  test("s16 recall is sane: ivf and lsh both recover part of the external truth") {
    val rows = Similarity.s16ExternalRecall(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(_._1).sorted == Seq("ivf", "lsh"))
    rows.foreach { case (m, hits, total, ppm) =>
      assert(total == Similarity.NumExternalQueries * 5)
      assert(hits >= 0 && hits <= total, s"$m hits out of range")
      assert(ppm == hits * 1000000L / total)
    }
  }

  test("s13RrfHybridFor and p4RagContextFor serve an external question end-to-end") {
    val qv = Similarity.externalQueries(spark, sfDir)
      .filter(col("qid") === 0L).select(col("qemb"))
    val terms = Seq("vector", "spark", "hash", "zzqoov") // one OOV term
    val fused = Retrieval.s13RrfHybridFor(spark, sfDir, terms, qv).collect()
    assert(fused.length == Retrieval.RrfK)
    assert(fused.map(_.getInt(0)).toSeq == (1 to Retrieval.RrfK))
    // rrf_nano strictly ranks the output
    val nanos = fused.sortBy(_.getInt(0)).map(_.getLong(2)).toSeq
    assert(nanos == nanos.sorted.reverse)
    val ctx = Retrieval.p4RagContextFor(spark, sfDir, terms, qv).collect()
    assert(ctx.length == Retrieval.P4K)
    val cums = ctx.sortBy(_.getInt(0)).map(_.getLong(3)).toSeq
    assert(cums == cums.sorted, "cum_tokens must be monotone in rank")
  }

  test("a serving turn with a repeated term equals the same turn with the term once") {
    val qv = Similarity.externalQueries(spark, sfDir)
      .filter(col("qid") === 1L).select(col("qemb"))
    def turn(terms: Seq[String]) =
      (Retrieval.s13RrfHybridFor(spark, sfDir, terms, qv).collect().toSeq,
        Retrieval.p4RagContextFor(spark, sfDir, terms, qv).collect().toSeq)
    assert(turn(Seq("window", "stream", "window", "data")) ==
      turn(Seq("window", "stream", "data")))
  }

  test("after one warm turn, a turn with a different number of terms compiles nothing new") {
    val qv = Similarity.externalQueries(spark, sfDir)
      .filter(col("qid") === 2L).select(col("qemb"))
    def turn(terms: Seq[String]) = Retrieval.s13RrfHybridFor(spark, sfDir, terms, qv).collect()
    // Adaptive execution numbers whole-stage codegen stages in the order
    // its query stages finish, and by default that number is part of the
    // generated class name, so two runs of one plan can miss the codegen
    // cache on timing alone. Without the number in the name, only a
    // change in the plan itself (terms as literals) compiles new code.
    val idInName = "spark.sql.codegen.useIdInClassName"
    spark.conf.set(idInName, "false")
    try {
      turn(Seq("vector", "spark", "hash"))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      turn(Seq("window", "stream", "data", "table", "row"))
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
        "the second turn compiled new code")
    } finally spark.conf.unset(idInName)
  }

  test("IvfIndex.probe serves the external batch; full probe equals brute force") {
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cents = graft.sources.IvfIndex.train(e, 4)
    val path = java.nio.file.Files.createTempDirectory("ivf_ext").toString
    graft.sources.IvfIndex.build(e, cents, path)
    val probed = graft.sources.IvfIndex.probe(spark, path,
        Similarity.externalQueries(spark, sfDir), cents, 5, nprobe = 4,
        excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // nprobe = k probes every list -> brute force by construction...
    val byQ = probed.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    extq.foreach { case (q, v) => assert(byQ(q) == bruteTop(v, corpus, 5)) }
  }
}
