package graft.operators

import graft.SparkSpec
import graft.functions.BpeVocab
import org.apache.spark.sql.functions._

/** BPE fixture-vocab tokenizer (t21/t22). */
class BpeSpec extends SparkSpec {

  test("merge table is VALID BPE: every side is a base char or an earlier product") {
    val products = scala.collection.mutable.Set.empty[String]
    BpeVocab.Merges.zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.length == 1 || products.contains(a),
        s"rank ${i + 1}: left side '$a' is not buildable")
      assert(b.length == 1 || products.contains(b),
        s"rank ${i + 1}: right side '$b' is not buildable")
      products += (a + b)
    }
  }

  /** Independent reference implementation: the classic
    * merge-the-lowest-ranked-present-pair loop (one pair occurrence per
    * step), the formulation the rank-ascending scan must equal. */
  private def referenceBpe(word: String): Int = {
    val rank = BpeVocab.Merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    var syms = word.map(String.valueOf(_)).toVector
    var continue = true
    while (continue && syms.length > 1) {
      val pairs = syms.indices.dropRight(1).map(i => (syms(i), syms(i + 1)))
      val ranked = pairs.zipWithIndex
        .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
      if (ranked.isEmpty) continue = false
      else {
        // merge the LEFTMOST occurrence of the LOWEST-ranked pair present
        val best = ranked.minBy(identity)._1
        val at = ranked.filter(_._1 == best).map(_._2).min
        syms = (syms.take(at) :+ (syms(at) + syms(at + 1))) ++ syms.drop(at + 2)
      }
    }
    syms.length
  }

  test("fixture words pin the expected token counts") {
    val expected = Seq(
      "the" -> 1, "scan" -> 1, "window" -> 1, "table" -> 1, "value" -> 1,
      "merge" -> 1, "slow" -> 1, "data" -> 1, "agg" -> 1, "line" -> 1,
      "hash" -> 1, "part" -> 1, "fast" -> 1, "key" -> 1, "row" -> 1,
      // genuine rank interactions — an earlier merge bites inside the
      // word and blocks the full chain, exactly as learned BPE tables do:
      "group" -> 4,    // (r,o)@6 fires first: g|ro|u|p
      "sort" -> 3,     // (r,t)@21 beats (o,r)@27: s|o|rt
      "thethe" -> 2,   // th,e th,e -> the the
      "x" -> 1, "windows" -> 2)
    expected.foreach { case (w, n) =>
      val got = BpeVocab.countWord(w)
      val ref = referenceBpe(w)
      assert(got == ref, s"'$w': engine=$got reference=$ref")
      assert(got == n, s"'$w': got $got expected $n")
    }
  }

  test("engine scan equals the reference merge loop on random corpus-alphabet words") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghiklmnoprstuvwy"
    (1 to 500).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(BpeVocab.countWord(w) == referenceBpe(w), s"mismatch on '$w'")
    }
  }

  test("encodeWord emits the merged SEQUENCES the counts summarize") {
    val expected = Seq(
      "the" -> "the", "merge" -> "merge", "window" -> "window",
      "group" -> "g|ro|u|p", "sort" -> "s|o|rt",
      "thethe" -> "the|the", "windows" -> "window|s", "x" -> "x")
    expected.foreach { case (w, s) =>
      assert(BpeVocab.encodeWord(w) == s, s"'$w': got ${BpeVocab.encodeWord(w)}")
      // sequence and count come from ONE loop: lengths must agree
      assert(BpeVocab.encodeWord(w).split("\\|").length == BpeVocab.countWord(w))
    }
    // random words: stream length ≡ count (the shared-engine invariant)
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefghiklmnoprstuvwy"
    (1 to 300).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      assert(BpeVocab.encodeWord(w).split("\\|").length == BpeVocab.countWord(w))
    }
  }

  test("t30 fingerprints the stream t21 counts: map-only, count-consistent") {
    val df = TextAnalysis.t30BpeEncode(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Generate"),
      s"t30 must stay map-only:\n$plan")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val counts = TextAnalysis.t21BpeCount(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows == counts, "t30's per-doc token counts must equal t21's")
    // determinism: the fingerprints are stable across runs
    val fp1 = df.collect().map(r => r.getString(2)).toSeq
    val fp2 = TextAnalysis.t30BpeEncode(spark, sfDir).collect().map(r => r.getString(2)).toSeq
    assert(fp1 == fp2)
  }

  test("t21 is map-only modulo the final sort and never undercounts vs words") {
    val df = TextAnalysis.t21BpeCount(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Generate"),
      s"t21 must be a pure map stage:\n$plan")
    // BPE can only merge within words: counts are in [1, |word chars|]
    val joined = df.join(
      graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("n_words")),
      "doc_id")
    assert(joined.filter(col("bpe_tokens") < col("n_words")).count() == 0,
      "BPE count must be >= word count")
  }
}

/** v5 + the partition-pruned copy-on-write store delete. */
class DeleteByIdsSpec extends SparkSpec {

  test("v5 drops exactly the in-namespace ids") {
    import org.apache.spark.sql.Row
    val before = graft.Tables.embeddings(spark, sfDir)
      .filter(col("label") === Similarity.DeleteNamespace)
      .filter(col("vec_id").isin(Similarity.DeleteIds: _*)).count()
    val total = graft.Tables.embeddings(spark, sfDir).count()
    val after = Similarity.v5DeleteByIds(spark, sfDir)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(after == total - before)
    assert(before > 0, "fixture must actually delete something at this SF")
  }

  test("store deleteByIds rewrites ONLY affected partitions (copy-on-write)") {
    val dir = java.nio.file.Files.createTempDirectory("vstore").toString
    import spark.implicits._
    // 3 buckets; ids 1,2 live in bucket 0; bucket 2 will be emptied
    val store = Seq(
      (1L, 0, "a"), (2L, 0, "b"), (3L, 0, "c"),
      (10L, 1, "d"), (11L, 1, "e"),
      (20L, 2, "f"))
      .toDF("chunk_uid", "bucket", "payload")
    graft.sources.VectorStoreSink.write(store, dir)
    def files(b: Int): Set[String] = {
      val d = new java.io.File(s"$dir/bucket=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val b1Before = files(1)
    graft.sources.VectorStoreSink.deleteByIds(spark, dir, Seq(1L, 2L, 20L))
    // no store read returns a deleted id
    val left = graft.sources.StoreManifest.read(spark, dir)
    assert(left.select("chunk_uid").as[Long].collect().sorted.toSeq == Seq(3L, 10L, 11L))
    // unaffected bucket: identical files, no rewrite
    assert(files(1) == b1Before, "bucket=1 was rewritten but contained no deleted id")
    // affected bucket rewritten; the emptied bucket is gone from the
    // committed snapshot
    val snap = graft.sources.StoreManifest.snapshot(spark, dir)
    assert(files(0).nonEmpty && snap.files.map(_.partition).toSet == Set("0", "1"))
    assert(snap.files.filter(_.partition == "1").map(_.path.stripPrefix("bucket=1/")).toSet == b1Before)
  }
}

/** Incremental IVF maintenance (append + staleness). */
class IvfAppendSpec extends SparkSpec {

  test("append-maintained store serves IDENTICAL probes to a full rebuild") {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label")
    val centroids = graft.sources.IvfIndex.train(e, k = 4)
    val dirA = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val dirB = java.nio.file.Files.createTempDirectory("ivf_full").toString
    val old = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    graft.sources.IvfIndex.build(old, centroids, dirA)
    graft.sources.IvfIndex.append(batch, centroids, dirA)
    graft.sources.IvfIndex.build(e, centroids, dirB)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    def run(p: String) = graft.sources.IvfIndex
      .probe(spark, p, queries, centroids, k = 5, nprobe = 2)
      .collect().map(_.toString).toSet
    assert(run(dirA) == run(dirB),
      "append-maintained and rebuilt stores must serve identical probe results")
  }

  test("staleness is 0 under the stored codebook and detects a shifted one") {
    val e = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val centroids = graft.sources.IvfIndex.train(e, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    graft.sources.IvfIndex.build(e, centroids, dir)
    val same = graft.sources.IvfIndex.staleness(spark, dir, centroids).collect()(0)
    assert(same.getLong(2) == 0L, s"same codebook must have 0 reassignment: $same")
    // a genuinely different codebook (trained on a disjoint k) reassigns
    val retrained = graft.sources.IvfIndex.train(e, k = 7)
    val moved = graft.sources.IvfIndex.staleness(spark, dir, retrained).collect()(0)
    assert(moved.getLong(0) == e.count())
    assert(moved.getLong(2) > 0L, "a k=7 retrain must reassign some vectors")
  }
}

/** d20 passage report semantics. */
class DupPassagesSpec extends SparkSpec {

  test("d20 surfaces the planted boilerplate with cross-doc counts") {
    val rows = Dedup.d20DupPassages(spark, sfDir).collect()
    assert(rows.length > 0 && rows.length <= 20)
    // ordering: non-increasing occurrence counts
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // the planted corpus repeats MirrorPassage in every doc_id%3 doc and
    // BoilerPrefix in every doc_id%5 doc: the top passage must span many docs
    assert(rows.head.getLong(3) > 10, s"top passage should be cross-doc: ${rows.head}")
    // every reported passage has SubW tokens and a consistent example span
    rows.foreach { r =>
      assert(r.getString(4).split("\\s+").count(_.nonEmpty) >= 1)
      assert(r.getLong(2) >= 2 && r.getLong(3) >= 1 && r.getLong(3) <= r.getLong(2))
    }
  }
}

/** q12 full-formula branches + a1/a2 bound audits. */
class CostAndBoundsSpec extends SparkSpec {

  test("q12 exercises all three provider branches and the default price") {
    val rows = Relational.q12CostCalc(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    val byType = rows.map(r => r._1 -> r).toMap
    assert(byType("error")._2 == "claude" && byType("error")._4 == 0.0,
      "unpriced provider must cost 0")
    assert(byType("signup")._2 == "gemini" && byType("signup")._4 > 0.0)
    assert(byType("click")._2 == "openai")
    // openai divides by 1000: its cost per token must be ~1000x below gemini's
    // default-priced rate scaled by price ratio — just assert the division bites:
    val click = byType("click"); val signup = byType("signup")
    assert(click._4 / click._3 < signup._4 / signup._3,
      "openai /1000 must make its per-token cost lower than gemini's default")
    // gemini rides the DEFAULT price (0.01 in + 0.01 out on in+floor(in/2))
    assert(signup._4 > 0.0 && math.abs(signup._4 / signup._3 - 0.01) < 0.005,
      s"signup blended per-token rate should sit near the default price: $signup")
  }

  test("a1/a2 audits hold (within_bound = 1 everywhere)") {
    assert(Approx.a1HllBounds(spark, sfDir).filter(col("within_bound") =!= 1).count() == 0)
    assert(Approx.a2QuantileBounds(spark, sfDir).filter(col("within_bound") =!= 1).count() == 0)
  }
}
