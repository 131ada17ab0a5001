package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpec {

  test("t8 flags the planted symbol runs and emits sane ratios") {
    val rows = Quality.t8GopherQuality(spark, sfDir)
    // every metric is a ratio in range; passes is a 0/1 flag
    assert(rows.filter(col("bullet_ratio") < 0 || col("bullet_ratio") > 1).count() == 0)
    assert(rows.filter(!col("passes").isin(0, 1)).count() == 0)
    // planted '#' runs (doc_id % 13 == 0) must register a positive hash_ratio
    val planted = rows.filter(col("doc_id") % 13 === 0)
    assert(planted.count() > 0)
    assert(planted.filter(col("hash_ratio") <= 0).count() == 0)
    // the hash run pushes those docs over the 0.1 symbol-ratio rule
    assert(planted.filter(col("passes") === 1 && col("hash_ratio") >= 0.1).count() == 0)
  }

  test("t9 detects the planted repeated lines and bounds the metrics") {
    val rows = Quality.t9Repetition(spark, sfDir)
    val planted = rows.filter(col("doc_id") % 9 === 0)
    assert(planted.count() > 0)
    // 3 identical appended lines => at least 2 duplicate lines per planted doc
    assert(planted.filter(col("dup_line_ratio") <= 0).count() == 0)
    assert(rows.filter(col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1).count() == 0)
    assert(rows.filter(col("dup_line_ratio") < 0 || col("dup_line_ratio") >= 1).count() == 0)
  }

  test("t29 applies each C4 rule to its planted line and verdicts pages") {
    val rows = Quality.t29C4Filter(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // id 2 (%2 only): main + short + two extra kept => 4 lines, 3 kept, page kept
    assert(rows(2L) == ((4L, 3L, 1L)))
    // id 3 (%3 only): the javascript line is line-dropped; 1 kept => page dropped
    assert(rows(3L) == ((3L, 1L, 0L)))
    // id 7 (%7 only): the lorem line is line-KEPT but page-drops the doc
    assert(rows(7L) == ((3L, 2L, 0L)))
    // id 11 (%11 only): '{' page-drops the doc; the code line is line-dropped
    assert(rows(11L) == ((3L, 1L, 0L)))
    // id 4 (%2 and %4): punctuation-less line dropped, page survives on 3 kept
    assert(rows(4L) == ((5L, 3L, 1L)))
    // every odd id has at most 2 kept sentences => fails the 3-sentence rule
    assert(rows.collect { case (id, (_, _, kept)) if id % 2 == 1 => kept }.forall(_ == 0L))
  }

  test("t29 is a pure map stage: no join, no explode, no hash shuffle") {
    val plan = Quality.t29C4Filter(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"t29 must not join:\n$plan")
    assert(!plan.contains("Generate"), s"t29 must not explode:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"t29 must not hash-shuffle:\n$plan")
  }

  test("t9 is a pure map stage: no join, no explode, one exchange (the final sort)") {
    val plan = Quality.t9Repetition(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"t9 must not join:\n$plan")
    assert(!plan.contains("Generate"), s"t9 must not explode:\n$plan")
    // the SCALE claim is about key-based shuffles, which must be exactly
    // the final sort's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
      s"t9 must not hash-shuffle:\n$plan")
    val sorts = "Exchange rangepartitioning".r.findAllIn(plan).size
    assert(sorts == 1, s"t9 must range-shuffle only for the final sort ($sorts):\n$plan")
  }

  test("t10's gram filter is a broadcast hash join — the corpus never shuffles unmatched grams") {
    val plan = Quality.t10Contamination(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle for the join:\n$plan")
  }

  test("t10 flags exactly the docs sharing an 8-gram with the benchmark set") {
    val hits = Quality.t10Contamination(spark, sfDir)
    val hitIds = hits.collect().map(_.getLong(0)).toSet
    // every canary-planted doc (12-word canary => five 8-grams) is flagged...
    val docs = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(docs.nonEmpty && docs.subsetOf(hitIds), s"missing ${docs -- hitIds}")
    // ...and each flagged doc reports at least one overlapping distinct 8-gram
    assert(hits.filter(col("n_hits") <= 0).count() == 0)
  }

  test("t12 tf-idf emits at most K ranked terms per doc, scores descending, df sane") {
    val rows = Quality.t12Tfidf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      assert(rs.length <= Quality.TfidfK, s"doc $doc has ${rs.length} terms")
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length), s"doc $doc ranks")
      // micro-scores non-increasing in rank order
      val scores = rs.sortBy(_.getInt(1)).map(_.getLong(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $doc order")
    }
    // a corpus-universal term (df == n_docs) has idf 0 and can never outrank
    // a rarer term with positive score
    rows.foreach { r => assert(r.getLong(4) >= 1 && r.getLong(3) >= 1) }
  }

  test("t17 surprisal matches a driver-side unigram model over the corpus") {
    val rows = Quality.t17UnigramLm(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.nonEmpty)
    // independent model: tokenize driver-side with the same regex
    val wordRe = "[a-z0-9]+".r
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> wordRe.findAllIn(r.getString(1).toLowerCase).toSeq)
    val ctf = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = ctf.values.sum
    docs.foreach { case (id, toks) =>
      if (toks.isEmpty) assert(!rows.contains(id))
      else {
        val surprisal = toks.map(t =>
          math.floor(math.log(total.toDouble / ctf(t)) * 1e6).toLong).sum
        val want = (toks.size.toLong, surprisal, surprisal / toks.size)
        assert(rows(id) == want, s"doc $id: got ${rows(id)} want $want")
      }
    }
  }

  test("t18 verified flags are true near-matches; planted twins are recalled") {
    val flagged = Quality.t18FuzzyDecontam(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side ground truth: word-bigram jaccard of every train doc
    // against every benchmark doc (bench = perturbed %7 twins). NOTE the
    // corpus contains NATURAL near-dup text pairs (e.g. docs 157 ≈ 56),
    // so a non-%7 doc near-matching a benchmark twin is a TRUE hit.
    def bigrams(s: String): Set[String] =
      s.trim.split("\\s+").toSeq.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSet
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> bigrams(r.getString(1)))
    val bench = docs.filter(_._1 % 7 == 0)
      .map { case (id, _) => id } // twins share the id; bigrams recomputed with tail
    val benchBg = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(Dedup.NearTail)).as("text"))
      .collect().map(r => r.getLong(0) -> bigrams(r.getString(1)))
    val trueHits = docs.map { case (id, bg) =>
      id -> benchBg.count { case (_, bbg) =>
        val inter = (bg & bbg).size
        val union = (bg | bbg).size
        union > 0 && inter.toDouble / union >= Quality.DecontamTau
      }
    }.filter(_._2 > 0).toMap
    // zero false positives: the verify stage must kill every LSH band
    // collision that is not a genuine near-match
    flagged.foreach { case (id, hits) =>
      assert(trueHits.contains(id), s"doc $id flagged but is no true near-match")
      assert(hits >= 1 && hits <= trueHits(id), s"doc $id hit count $hits")
    }
    // every planted twin is a true match by construction...
    assert(bench.forall(trueHits.contains), "a planted twin fell below tau")
    // ...and recall over ALL true matches is banding-bound (the d12 rule)
    assert(flagged.size >= trueHits.size * 8 / 10,
      s"only ${flagged.size} of ${trueHits.size} true near-matches caught")
  }

  test("t11 vocabulary is frequency-ranked with df <= tf and df >= 1") {
    val rows = Quality.t11VocabTopK(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= Quality.VocabK)
    val tfs = rows.map(_.getLong(1)).toSeq
    assert(tfs == tfs.sortBy(-_), "tf not descending")
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1), s"word ${r.getString(0)}")
    }
  }

  test("t20 buckets match DISC tercile cutoffs recomputed driver-side, per language") {
    val rows = Quality.t20CcnetBuckets(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      val means = docs.sortBy(d => (d._4, d._1)).map(_._4)
      val n = means.length
      def cut(p: Double): Long = means(math.ceil(p * n).toLong.toInt - 1)
      val (p33, p67) = (cut(1.0 / 3), cut(2.0 / 3))
      docs.foreach { case (id, _, _, m, bucket) =>
        val want = if (m <= p33) "head" else if (m <= p67) "middle" else "tail"
        assert(bucket == want, s"doc $id lang $lang mean $m: $bucket != $want")
      }
      // head is the fluent (low-surprisal) slice and is never empty
      assert(docs.count(_._5 == "head") >= 1, s"lang $lang has no head")
    }
    // every doc with at least one token is bucketed exactly once
    val ids = rows.map(_._1)
    assert(ids.distinct.length == ids.length)
  }

  test("t20's cutoff frame broadcasts and no corpus-keyed window appears in the plan") {
    val plan = Quality.t20CcnetBuckets(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"cutoffs must broadcast:\n$plan")
    // the quantile machinery must not sort the corpus in |langs| partitions:
    // no Window over the lang key (the only Window allowed is the final
    // rank lookup keyed by (lang, which) inside one bucket's values)
    assert(!plan.contains("Window [lang"), s"per-lang corpus window forbidden:\n$plan")
  }

  test("t19 matches the DSIR formula exactly on a planted-vocab fixture " +
    "and ranks target-vocab docs above off-target") {
    import graft.functions.Md5PrefixModUtil
    import org.apache.spark.unsafe.types.UTF8String
    val fixture = Seq(
      (1L, "en", "alpha beta alpha beta alpha beta"),
      (2L, "en", "alpha beta gamma"),
      (3L, "xx", "zulu yankee zulu yankee zulu"),
      (4L, "xx", "alpha beta zulu"))
    val df = spark.createDataFrame(fixture).toDF("doc_id", "lang", "text")
    val got = Quality.dsirWeights(df, "en").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // driver recompute of the exact estimator (same hashing, same B)
    val b = Quality.DsirBuckets
    def bucket(bg: String): Long = Md5PrefixModUtil.hash(UTF8String.fromString(bg), b)
    val perDoc = fixture.map { case (id, lang, text) =>
      val w = text.split(" ").toSeq
      (id, lang, w.sliding(2).map(p => bucket(p.mkString(" "))).toSeq)
    }
    val cr = perDoc.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = perDoc.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rtot = cr.values.sum
    val ttot = ct.values.sum
    def costMicro(bk: Long): Long =
      math.floor(math.log(
        ((ct.getOrElse(bk, 0L) + 1) * (rtot + b)).toDouble /
        ((cr(bk) + 1) * (ttot + b)).toDouble) * 1e6).toLong
    perDoc.foreach { case (id, _, bks) =>
      val n = bks.size.toLong
      val wMicro = bks.map(costMicro).sum
      val mean = math.floor(wMicro.toDouble / n).toLong
      assert(got(id) == ((n, wMicro, mean)), s"doc $id: ${got(id)} != ($n,$wMicro,$mean)")
    }
    // the semantic point: pure target-vocab docs outrank pure off-target ones
    assert(got(1L)._3 > got(3L)._3, s"en doc ${got(1L)} not above xx doc ${got(3L)}")
    assert(got(2L)._3 > got(3L)._3)
  }

  test("t19 matches the DSIR estimator on random corpora (property)") {
    import graft.functions.Md5PrefixModUtil
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("alpha", "beta", "gamma", "delta", "zulu", "yankee", "kilo", "w9")
    val genDoc = for {
      n <- Gen.choose(0, 12) // includes docs below the 2-word floor
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      k <- Gen.choose(2, 18)
      docs <- Gen.listOfN(k, genDoc)
      langs <- Gen.listOfN(k, Gen.oneOf("en", "xx", "yy"))
    } yield docs.zip(langs).zipWithIndex.map { case ((t, l), i) => (i.toLong, l, t) }
    val params = Gen.Parameters.default
    var seed = Seed(20260813L)
    val b = Quality.DsirBuckets
    def bucket(bg: String): Long = Md5PrefixModUtil.hash(UTF8String.fromString(bg), b)
    for (_ <- 0 until 8) {
      val corpus = genCorpus.pureApply(params, seed); seed = seed.next
      val df = spark.createDataFrame(corpus).toDF("doc_id", "lang", "text")
      val got = Quality.dsirWeights(df, "en").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      // reference estimator, straight from the definition
      val perDoc = corpus.map { case (id, lang, text) =>
        val ws = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
        (id, lang, if (ws.size < 2) Nil else ws.sliding(2).map(p => bucket(p.mkString(" "))).toSeq)
      }.filter(_._3.nonEmpty)
      val cr = perDoc.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ct = perDoc.filter(_._2 == "en").flatMap(_._3)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (rtot, ttot) = (cr.values.sum, ct.values.sum)
      def cost(bk: Long): Long = math.floor(math.log(
        ((ct.getOrElse(bk, 0L) + 1) * (rtot + b)).toDouble /
        ((cr(bk) + 1) * (ttot + b)).toDouble) * 1e6).toLong
      val want = perDoc.map { case (id, _, bks) =>
        val w = bks.map(cost).sum
        id -> (bks.size.toLong, w, math.floor(w.toDouble / bks.size).toLong)
      }.toMap
      assert(got == want, s"divergence: ${(got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
  }

  test("t19 persisted model: stored costs re-score the corpus identically and " +
    "train-unseen buckets take the default cost") {
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    val path = s"$dir/costs"
    Quality.t19CostsWrite(spark, sfDir, path)
    // artifact is bucket-bound: every seen bucket + the one default row
    val stored = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored.size <= Quality.DsirBuckets + 1 && stored.contains(-1L))
    // scoring the training corpus against the stored model reproduces t19
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val fromStore = Quality.t19WeightsFrom(spark, path, docs).collect().toSeq
    val inSession = Quality.t19DsirWeights(spark, sfDir).collect().toSeq
    assert(fromStore == inSession)
    // a new batch with train-unseen vocabulary scores deterministically:
    // recompute its expected weight driver-side from the stored frame alone
    import graft.functions.Md5PrefixModUtil
    import org.apache.spark.unsafe.types.UTF8String
    val newText = "zzqx wwvy zzqx wwvy kkjh"
    val batch = spark.createDataFrame(Seq((900001L, "xx", newText)))
      .toDF("doc_id", "lang", "text")
    val got = Quality.t19WeightsFrom(spark, path, batch).collect().head
    val bks = newText.split(" ").toSeq.sliding(2)
      .map(p => Md5PrefixModUtil.hash(UTF8String.fromString(p.mkString(" ")), Quality.DsirBuckets))
      .toSeq
    val want = bks.map(bk => stored.getOrElse(bk, stored(-1L))).sum
    assert(got.getLong(1) == bks.size && got.getLong(2) == want,
      s"got ${got.getLong(2)} want $want")
  }

  test("t19's cost frame broadcasts — the corpus never shuffles for the scoring join") {
    val plan = Quality.t19DsirWeights(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bucket costs must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join allowed:\n$plan")
    // every doc with >= 2 words is scored, none dropped by the cost join
    val rows = Quality.t19DsirWeights(spark, sfDir)
    val scored = rows.count()
    val eligible = graft.Tables.documents(spark, sfDir)
      .filter(size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))) >= 2)
      .count()
    assert(scored == eligible, s"$scored scored vs $eligible eligible")
    assert(rows.filter(col("n_bigrams") <= 0).count() == 0)
  }
}
