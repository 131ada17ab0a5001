package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for a training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, and embedding-cosine near-dup.
  *
  * The driver corpus has no natural duplicates (500 distinct texts, max
  * pairwise cosine 0.47), so each query first PLANTS duplicates by a
  * deterministic derivation of the base table (same derivation in the
  * oracle SQL) — the operators themselves are corpus-agnostic.
  *
  * Scale design: no operator ever forms the global cross product.
  *  - exact: one hash-groupBy, map-side combined;
  *  - jaccard: candidate pairs only within a prefix block;
  *  - minhash: pairs only within an LSH band bucket — the shuffle is
  *    O(docs × bands), and bucket joins are hash joins on (band, key);
  *  - embedding: pairs only within a label block.
  */
object Dedup {

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text")

  /** base ∪ exact copies of every 10th doc (id+100000). */
  private def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = base(s, dir)
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private[operators] val NearTail = " and the query data system window"

  /** base ∪ near-duplicate variants (appended tail) of every 10th doc. */
  private[graft] def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = base(s, dir)
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(NearTail)).as("text")))
  }

  private val corpusExactSql =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0""".stripMargin

  private val corpusNearSql =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text || '$NearTail' AS text
       |  FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** d1: exact dedup — md5 group, keep min id, report dup groups. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    corpusExact(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))
      .filter(col("cnt") > 1)
      .orderBy("fp")

  val d1Sql: String =
    s"""WITH corpus AS ($corpusExactSql)
       |SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS keep_id
       |FROM corpus GROUP BY 1 HAVING count(*) > 1 ORDER BY fp""".stripMargin

  /** d9: INCREMENTAL (cross-snapshot) exact dedup — the shape every
    * recurring crawl pipeline runs: deduplicate a NEW batch against the
    * already-ingested corpus without rescanning-and-regrouping the
    * union. Existing corpus = doc_id < 400; the new batch = the
    * remaining docs ∪ planted re-crawls of every 10th existing doc ∪
    * planted in-batch copies of every 20th new doc. Survivors are new
    * docs whose content hash is absent from the existing corpus, with
    * in-batch copies collapsed to the min doc_id.
    *
    * Scale: the existing side reduces to its DISTINCT fp set (in a real
    * deployment that set is the stored dedup index, bucketed by fp);
    * the anti-join and the in-batch group are both hash-partitioned on
    * the high-cardinality fp — batch-sized shuffles, and the 100 TB
    * corpus contributes one column, not its text. */
  def d9IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val existingFp = base(s, dir).filter(col("doc_id") < 400)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
    d9NewBatch(s, dir)
      .withColumn("fp", md5(col("text").cast("binary")))
      .join(existingFp, Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_copies"))
      .select("doc_id", "fp", "batch_copies")
      .orderBy("doc_id")
  }

  val d9Sql: String =
    """WITH newbatch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents
      |  WHERE doc_id < 400 AND doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text FROM documents
      |  WHERE doc_id >= 400 AND doc_id % 20 = 0),
      |exfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 400)
      |SELECT min(doc_id) AS doc_id, fp, count(*) AS batch_copies
      |FROM (SELECT doc_id, md5(text) AS fp FROM newbatch) n
      |WHERE fp NOT IN (SELECT fp FROM exfp)
      |GROUP BY fp ORDER BY doc_id""".stripMargin

  /** d10: corpus-wide LINE-level dedup — the C4/RefinedWeb boilerplate
    * pass: a line that occurs anywhere else in the corpus survives only
    * at its first occurrence (min (doc_id, line_idx)); every document is
    * then reconstructed from its surviving lines. Planted boilerplate
    * ("follow us...", "all rights reserved") on every 3rd/5th doc
    * exercises the cross-document collapse the operator exists for.
    *
    * Scale, and the skew trap this shape dodges: boilerplate lines are
    * BY DEFINITION the hottest keys in the corpus — a window (or join)
    * partitioned by the normalized line would put every occurrence of
    * "all rights reserved" in one reducer slice. Instead the first
    * occurrence comes from `min(struct(doc_id, idx))` per line — a
    * map-side-combined aggregate, so a hot line contributes ONE partial
    * row per input partition — and the winners join back LEFT SEMI on
    * the UNIQUE (doc_id, idx) pair, which hashes evenly no matter how
    * hot the line. Line text crosses the wire once (the doc_id-keyed
    * reconstruction); at 100 TB the decide pass would carry a 64-bit
    * line hash instead of text (d1's fp pattern). Output is
    * per-document: line counts plus an md5 fingerprint of the surviving
    * text, never the corpus itself. */
  def d10LineDedup(s: SparkSession, dir: String): DataFrame = {
    val corpus = base(s, dir)
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit("\nfollow us on social media\nsubscribe to our newsletter")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit("\nall rights reserved")))
          .otherwise(col("text")))
    lineDedupCore(corpus)
  }

  /** The line-dedup decide/reconstruct core over any (doc_id, text)
    * corpus — factored out so fixtures can drive the all-lines-lost path
    * (an exact-duplicate doc whose every line loses to a lower-id twin),
    * which the driver corpus never produces. */
  def lineDedupCore(corpus: DataFrame): DataFrame = {
    val lines = corpus
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .withColumn("norm", lower(trim(col("line"))))
    val firsts = lines
      .groupBy("norm")
      .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      .select(col("k.doc_id").as("kd"), col("k.idx").as("ki"))
    lines
      .join(firsts, col("doc_id") === col("kd") && col("idx") === col("ki"), "left")
      .withColumn("kept", col("kd").isNotNull)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(CASE WHEN kept THEN struct(idx, line) END)), x -> x.line), chr(10))").as("surviving"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        when(col("n_kept") > 0, md5(col("surviving").cast("binary"))).as("kept_fp"))
      .orderBy("doc_id")
  }

  val d10Sql: String =
    """WITH corpus AS (
      | SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN t1 || chr(10) || 'all rights reserved' ELSE t1 END AS text
      | FROM (
      |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
      |    THEN text || chr(10) || 'follow us on social media' || chr(10) || 'subscribe to our newsletter'
      |    ELSE text END AS t1
      |  FROM documents)),
      |lines AS (
      | SELECT doc_id,
      |  unnest(string_split(text, chr(10))) AS line,
      |  unnest(range(len(string_split(text, chr(10))))) AS idx
      | FROM corpus),
      |flagged AS (
      | SELECT doc_id, idx, line,
      |  row_number() OVER (PARTITION BY lower(trim(line)) ORDER BY doc_id, idx) = 1 AS kept
      | FROM lines)
      |SELECT doc_id, count(*) AS n_lines,
      | cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint) AS n_kept,
      | md5(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY idx)) AS kept_fp
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d2: 3-gram Jaccard near-dup pairs within a 40-char-prefix block.
    *
    * The prefix block admits few candidate pairs (~0.015% of the cross
    * product here), so the cheap thing is to join raw texts on the block
    * key and score each surviving pair with one codegen'd expression
    * (graft.functions.CharNgramJaccard) — no shingle arrays are ever
    * materialized or shuffled. The build side is broadcast: at 100 TB
    * the block-key join becomes a bucketed join of the same shape. */
  def d2NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CharNgramJaccard
    val c = corpusNear(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("blk"), col("text"))
    val a = c.select(col("doc_id").as("doc_a"), col("blk"), col("text").as("text_a"))
    val b = c.select(col("doc_id").as("doc_b"), col("blk").as("blk_b"), col("text").as("text_b"))
    a.join(broadcast(b), col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .withColumn("jaccard", CharNgramJaccard(col("text_a"), col("text_b"), 3))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** d2 registered default: exact-collapse before the quadratic stage
    * (same move as [[d5EmbeddingNearDupCollapsed]], over text). Distinct
    * texts group once with their sorted member ids; the blocked pair scan
    * scores DISTINCT-text pairs, so cost grows with the square of
    * distinct texts per block, not raw rows — under the sf1 decade's 10×
    * byte-identical replication the naive form's pair count grows 100×
    * while this form's is unchanged. Members expand back relationally;
    * within-group pairs score jaccard(t,t) = 1.0 exactly (the ngram set
    * is never empty — a short text hashes as one whole-string window),
    * the same value the naive form computes for an identical-text pair,
    * and the explicit filter keeps equality structural. Identical output
    * to [[d2NgramJaccard]] (spec-asserted). */
  def d2NgramJaccardCollapsed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CharNgramJaccard
    val c = corpusNear(s, dir)
      .groupBy(col("text"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(substring(col("text"), 1, 40).as("blk"), col("text"), col("ids"))
    val a = c.select(col("blk"), col("text").as("text_a"), col("ids").as("ids_a"))
    val b = c.select(col("blk").as("blk_b"), col("text").as("text_b"),
      col("ids").as("ids_b"))
    val cross = a.join(broadcast(b), col("blk") === col("blk_b")
        && col("ids_a").getItem(0) < col("ids_b").getItem(0))
      .withColumn("jaccard", CharNgramJaccard(col("text_a"), col("text_b"), 3))
      .filter(col("jaccard") >= 0.5)
      .select(explode(col("ids_a")).as("a"), col("ids_b"), col("jaccard"))
      .select(col("a"), explode(col("ids_b")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    val within = c.filter(size(col("ids")) > 1)
      .withColumn("jaccard", CharNgramJaccard(col("text"), col("text"), 3))
      .filter(col("jaccard") >= 0.5)
      .select(explode(col("ids")).as("a"), col("ids"), col("jaccard"))
      .select(col("a"), explode(col("ids")).as("b"), col("jaccard"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
    cross.unionByName(within).orderBy("doc_a", "doc_b")
  }

  /** d2 at the 100 TB default: PREFIX-FILTER candidate screening (the
    * AllPairs/PPJoin lineage — Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08 — i.e. d21's machinery turned symmetric) replaces the
    * per-block all-pairs stage. Identical output to
    * [[d2NgramJaccardCollapsed]] (spec-asserted).
    *
    * Why: the collapsed form still scores every DISTINCT-text pair
    * inside a block — quadratic in distinct texts per block, which a
    * shared-boilerplate crawl (one hot 40-char prefix) turns into the
    * exact flooding d19 warns about. The prefix screen admits a pair
    * only if the two texts share a shingle among each one's RAREST
    * L = sz − ⌈τ·sz⌉ + 1 shingles under the global (df ASC, hash ASC)
    * order — the standard mid-prefix lemma: J ≥ τ forces the two
    * prefixes to intersect, so the screen loses nothing; exact
    * verification then scores only survivors.
    *
    * Scale shape: shingles are the SAME 64-bit FNV hashes the verify
    * expression compares (CharNgramHashes — one codegen pass, 8-byte
    * longs shuffle, no substring materialization); df and sz rollups
    * are vocabulary/set-bound; the candidate join keys on (hash, blk) —
    * an equi-join whose bucket sizes are bounded by how many PREFIXES
    * carry a hash (rarest-first keeps those small), never by block
    * population; verification is candidate-bound. Within-block
    * duplicate texts collapse first (the d2/d5/s3 discipline), so
    * multiplicity never enters the quadratic space at all. */
  def d2PrefixScreened(s: SparkSession, dir: String): DataFrame =
    d2PrefixScreenedFrame(corpusNear(s, dir))

  /** The screened candidate stage over a collapsed (gid, blk, text)
    * frame: distinct-text pairs sharing a rarest-prefix shingle within
    * a block — exposed so specs can measure the screen's admission
    * volume against the all-pairs block space. */
  private[graft] def d2PrefixCandidates(g: DataFrame): DataFrame = {
    import graft.functions.CharNgramHashesF
    import org.apache.spark.sql.expressions.Window
    val sh = g.select(col("gid"), col("blk"),
      explode(CharNgramHashesF(col("text"), 3)).as("h"))
    val dfc = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("gid").agg(count(lit(1)).as("sz"))
    val prefix = sh.join(dfc, Seq("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("gid").orderBy(col("df").asc, col("h").asc)))
      .join(sz, Seq("gid"))
      // τ = 1/2: prefix length sz − ⌈sz/2⌉ + 1
      .filter(col("rk") <= col("sz") - ((col("sz") + 1) / 2).cast("long") + 1)
      .select("gid", "blk", "h")
    prefix.select(col("gid").as("ga"), col("blk"), col("h"))
      .join(prefix.select(col("gid").as("gb"), col("blk").as("blk_b"), col("h")), Seq("h"))
      .filter(col("ga") < col("gb") && col("blk") === col("blk_b"))
      .select("ga", "gb").distinct()
  }

  /** Corpus-parameterized body of [[d2PrefixScreened]] (spec fixtures
    * plant a flooded shared-prefix block). */
  private[graft] def d2PrefixScreenedFrame(corpus: DataFrame): DataFrame = {
    import graft.functions.CharNgramJaccard
    val g = corpus
      .groupBy(col("text"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("ids").getItem(0).as("gid"),
        substring(col("text"), 1, 40).as("blk"), col("text"), col("ids"))
      .localCheckpoint() // read by the shingle pass, verify, and expansion
    val cands = d2PrefixCandidates(g)
    val cross = cands
      .join(g.select(col("gid").as("ga"), col("text").as("text_a"), col("ids").as("ids_a")), Seq("ga"))
      .join(g.select(col("gid").as("gb"), col("text").as("text_b"), col("ids").as("ids_b")), Seq("gb"))
      .withColumn("jaccard", CharNgramJaccard(col("text_a"), col("text_b"), 3))
      .filter(col("jaccard") >= 0.5)
      .select(explode(col("ids_a")).as("a"), col("ids_b"), col("jaccard"))
      .select(col("a"), explode(col("ids_b")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    val within = g.filter(size(col("ids")) > 1)
      .withColumn("jaccard", CharNgramJaccard(col("text"), col("text"), 3))
      .filter(col("jaccard") >= 0.5)
      .select(explode(col("ids")).as("a"), col("ids"), col("jaccard"))
      .select(col("a"), explode(col("ids")).as("b"), col("jaccard"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
    cross.unionByName(within).orderBy("doc_a", "doc_b")
  }

  /** d2 candidate pairs as a reusable CTE body (no ORDER BY) — d7's
    * recursive-clustering oracle builds on the same pair set. */
  val d2PairsSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |sh AS (
       | SELECT doc_id, substr(text, 1, 40) AS blk,
       |  list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1), i -> substr(text, i, 3))) AS sh
       | FROM corpus)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | cast(len(list_intersect(a.sh, b.sh)) AS double)
       |   / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE cast(len(list_intersect(a.sh, b.sh)) AS double)
       |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5""".stripMargin

  val d2Sql: String = d2PairsSql + "\nORDER BY doc_a, doc_b"

  // MinHash: 16 permutation hashes h_i(x) = (a_i * x + b_i) mod P over
  // md5-derived 60-bit shingle hashes, banded 4×4. Shingles are WORD
  // BIGRAMS: on this corpus char-3-gram Jaccard between unrelated docs
  // has median 0.48 (tiny shared vocabulary), which floods any banding
  // with O(n²) candidates; word-bigram Jaccard is 0.03 median / 0.12 max
  // cross-doc vs ≥0.6 for planted near-dups — the separation LSH needs.
  val P = 1000000007L
  val NumHashes = 16
  val BandSize = 4
  // Multipliers must be LARGE: with small a_i, the shingle whose base
  // hash is globally minimal minimizes every a_i*x+b_i simultaneously
  // (no mod wrap), collapsing all 16 "independent" minhashes into one
  // and flooding the band join. Large a_i wrap mod P and decorrelate.
  def hashA(i: Int): Long = ((i + 1L) * 2654435761L) % P
  def hashB(i: Int): Long = ((i + 7L) * 40503L * 9973L) % P

  /** Per-document LSH band keys (doc_id, band, key) over ANY
    * (doc_id, text) corpus — the signature+banding half of [[lshPairs]],
    * factored out so d24 can PERSIST the keys as the incremental-dedup
    * index and probe a new batch against them without pairing the
    * existing corpus with itself. One codegen'd signature expression per
    * doc; the output is 4 fingerprint-sized rows per doc. */
  private[operators] def bandKeys(corpus: DataFrame): DataFrame = {
    val c = corpus
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
    val as = (0 until NumHashes).map(hashA)
    val bs = (0 until NumHashes).map(hashB)
    val bandExpr = s"transform(sequence(0, ${NumHashes / BandSize - 1}), " +
      s"b -> concat_ws('_', ${(0 until BandSize).map(j => s"sig[b * $BandSize + $j]").mkString(", ")}))"
    c.select(col("doc_id"), graft.functions.MinHashSigF(col("t"), P, as, bs).as("sig"))
      .select(col("doc_id"), posexplode(expr(bandExpr)).as(Seq("band", "key")))
  }

  /** LSH candidate pairs over ANY (doc_id, text) corpus — the banded
    * MinHash core shared by d3 (within-corpus near-dup), t18
    * (cross-corpus decontamination, ids partitioned by side), and d14
    * (cluster-split). Same plan as documented on d3MinHashLsh. */
  private[operators] def lshPairs(corpus: DataFrame): DataFrame = {
    val pairExpr =
      """flatten(transform(sequence(1, size(ds) - 1),
        |  i -> transform(slice(ds, i + 1, size(ds) - i),
        |    d -> named_struct('doc_a', element_at(ds, i), 'doc_b', d))))""".stripMargin
    bandKeys(corpus)
      .groupBy("band", "key").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
  }

  /** d3's candidate pairs without the presentation sort — d12 consumes
    * this directly (its CC loop re-shuffles anyway). */
  private[operators] def d3Pairs(s: SparkSession, dir: String): DataFrame =
    lshPairs(corpusNear(s, dir))

  /** d19's banding grid — the deployable factorizations of the 16-hash
    * signature, implied Jaccard thresholds (1/b)^(1/r) ≈ 0.35 / 0.71 /
    * 0.92. The loosest factorization (16×1, threshold ≈0.06) is
    * deliberately EXCLUDED from the registered sweep: single-hash
    * collision buckets admit Ω(n²) candidate mass on any
    * shared-vocabulary corpus (measured at sf0.01: 50 421 of ~151k
    * possible pairs — a third of the corpus squared), so enumerating
    * its candidates at scale is the exact flooding the curve exists to
    * warn against; the containment spec still exercises it on the
    * small corpus via [[lshPairsMulti]]. */
  val BandingConfigs: Seq[(Int, Int)] = Seq((8, 2), (4, 4), (2, 8))

  /** Candidate pairs for SEVERAL banding configs from ONE signature
    * pass: each doc emits Σb keys (30 here vs d3's 4) into one
    * (config, band, key) shuffle; the bucket walk and pair explode are
    * per-config row-local. Aligned banding (config (b, r)'s band i is
    * the concatenation of config (2b, r/2)'s bands 2i, 2i+1) makes the
    * candidate sets STRUCTURALLY nested: a collision at r=8 forces both
    * aligned r=4 sub-bands to collide, so pairs(2,8) ⊆ pairs(4,4) ⊆
    * pairs(8,2) ⊆ pairs(16,1) — spec-asserted set containment. */
  private[operators] def lshPairsMulti(corpus: DataFrame,
      configs: Seq[(Int, Int)]): DataFrame = {
    val c = corpus
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
    val as = (0 until NumHashes).map(hashA)
    val bs = (0 until NumHashes).map(hashB)
    val structs = configs.map { case (b, r) =>
      s"""transform(sequence(0, ${b - 1}), bd -> named_struct(
         |  'bands', $b, 'rows_per', $r, 'band', bd,
         |  'key', concat_ws('_', ${(0 until r).map(j => s"sig[bd * $r + $j]").mkString(", ")})))""".stripMargin
    }.mkString(", ")
    val pairExpr =
      """flatten(transform(sequence(1, size(ds) - 1),
        |  i -> transform(slice(ds, i + 1, size(ds) - i),
        |    d -> named_struct('doc_a', element_at(ds, i), 'doc_b', d))))""".stripMargin
    c.select(col("doc_id"), graft.functions.MinHashSigF(col("t"), P, as, bs).as("sig"))
      .select(col("doc_id"), explode(expr(s"flatten(array($structs))")).as("bk"))
      .select(col("doc_id"), col("bk.bands").as("bands"),
        col("bk.rows_per").as("rows_per"), col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy("bands", "rows_per", "band", "key")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("bands"), col("rows_per"), explode(expr(pairExpr)).as("p"))
      .select(col("bands"), col("rows_per"), col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** d19: LSH BANDING TUNING CURVE — the s7-of-dedup: how many candidate
    * pairs (and docs touched) each banding of the SAME 16-hash MinHash
    * signature admits, from loose (8×2, implied Jaccard ≈0.35) to strict
    * (2×8, ≈0.92). Choosing (bands, rows) IS the MinHash deployment
    * decision (the S-curve analysis of Leskovec/Rajaraman/Ullman, MMDS
    * §3.4) — this runs the whole sweep as one first-class query the way
    * s7 sweeps nprobe.
    *
    * EXACT-COLLAPSE-FIRST (the d2/d5/s3 discipline, applied to the
    * candidate COUNTS): identical signatures collide in every band of
    * every config, so the multiplicity-expanded bucket walk
    * ([[lshPairsMulti]]) goes quadratic in duplicate multiplicity —
    * exactly what grows on a recurring crawl (measured 7.7 s at sf1's
    * 10× replicas). Instead, signatures group ONCE (gid = min doc_id,
    * multiplicity m); the bucket walk enumerates DISTINCT-group pairs
    * only, and the exact expanded counts are recovered arithmetically:
    * n_pairs = Σ_cross m_a·m_b + Σ_{m≥2} C(m,2) (every m≥2 group
    * self-collides in every config), n_docs = Σ m over groups in any
    * collision. Spec-asserted equal to the naive enumeration; measured
    * 7.7 s → ~1 s at sf1. Cross-query identity (spec): the 4×4 pair
    * SET from lshPairsMulti equals d3's. */
  def d19BandingCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = corpusNear(s, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
    val as = (0 until NumHashes).map(hashA)
    val bs = (0 until NumHashes).map(hashB)
    val groups = c
      .select(col("doc_id"), graft.functions.MinHashSigF(col("t"), P, as, bs).as("sig"))
      .groupBy("sig").agg(min(col("doc_id")).as("gid"), count(lit(1)).as("m"))
      .localCheckpoint() // distinct-signature-bound; feeds walk + self terms
    val structs = BandingConfigs.map { case (b, r) =>
      s"""transform(sequence(0, ${b - 1}), bd -> named_struct(
         |  'bands', $b, 'rows_per', $r, 'band', bd,
         |  'key', concat_ws('_', ${(0 until r).map(j => s"sig[bd * $r + $j]").mkString(", ")})))""".stripMargin
    }.mkString(", ")
    // bucket walk over DISTINCT groups; each admitted group pair carries
    // both multiplicities so the expanded pair count is pure arithmetic
    val pairExpr =
      """flatten(transform(sequence(1, size(gs) - 1),
        |  i -> transform(slice(gs, i + 1, size(gs) - i),
        |    g -> named_struct('gid_a', element_at(gs, i).gid, 'm_a', element_at(gs, i).m,
        |                      'gid_b', g.gid, 'm_b', g.m))))""".stripMargin
    val cross = groups
      .select(col("gid"), col("m"), explode(expr(s"flatten(array($structs))")).as("bk"))
      .select(col("gid"), col("m"), col("bk.bands").as("bands"),
        col("bk.rows_per").as("rows_per"), col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy("bands", "rows_per", "band", "key")
      .agg(sort_array(collect_list(struct(col("gid"), col("m")))).as("gs"))
      .filter(size(col("gs")) >= 2)
      .select(col("bands"), col("rows_per"), explode(expr(pairExpr)).as("p"))
      .select(col("bands"), col("rows_per"), col("p.gid_a"), col("p.m_a"),
        col("p.gid_b"), col("p.m_b"))
      .distinct()
      .localCheckpoint() // collision-bound sliver; feeds pair + doc rollups
    val crossPairs = cross.groupBy("bands", "rows_per")
      .agg(sum(col("m_a") * col("m_b")).as("cross_pairs"))
    // every m>=2 group self-collides in EVERY config: C(m,2) pairs, m docs
    val selfAgg = groups.filter(col("m") >= 2)
      .agg(coalesce(sum(expr("m * (m - 1) div 2")), lit(0L)).as("self_pairs"))
    val crossDocs = cross
      .select(col("bands"), col("rows_per"), col("gid_a").as("gid"), col("m_a").as("m"))
      .unionByName(cross.select(col("bands"), col("rows_per"),
        col("gid_b").as("gid"), col("m_b").as("m")))
      .distinct()
    // docs in any admitted pair: cross-colliding members + self-pair
    // members (count the latter only where not already in a cross group)
    val selfOnly = BandingConfigs.toDF("bands", "rows_per")
      .crossJoin(groups.filter(col("m") >= 2).select(col("gid"), col("m")))
      .join(crossDocs.select(col("bands"), col("rows_per"), col("gid")),
        Seq("bands", "rows_per", "gid"), "left_anti")
    val nDocs = crossDocs.unionByName(selfOnly)
      .groupBy("bands", "rows_per").agg(sum(col("m")).as("n_docs"))
    BandingConfigs.toDF("bands", "rows_per")
      .join(crossPairs, Seq("bands", "rows_per"), "left")
      .join(nDocs, Seq("bands", "rows_per"), "left")
      .crossJoin(broadcast(selfAgg))
      .select(col("bands"), col("rows_per"),
        (coalesce(col("cross_pairs"), lit(0L)) + col("self_pairs")).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("bands").desc)
  }

  /** Oracle: the shared sh/mh CTEs once, then per-config band keys,
    * distinct pairs and doc counts as scalar subqueries (zero-safe). */
  lazy val d19Sql: String = {
    val mins = (0 until NumHashes).map(i =>
      s"min((${hashA(i)} * h + ${hashB(i)}) % $P) AS m$i").mkString(",\n  ")
    val cfgBlocks = BandingConfigs.map { case (b, r) =>
      val bandSelects = (0 until b).map { bnd =>
        val ks = (0 until r).map(j => s"m${bnd * r + j}").mkString(", ")
        s"SELECT doc_id, $bnd AS band, concat_ws('_', $ks) AS key FROM mh"
      }.mkString("\n  UNION ALL ")
      s"""pairs_${b}_$r AS (
         | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         | FROM (  $bandSelects) a JOIN (  $bandSelects) b
         |   ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    val rows = BandingConfigs.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per,
         | (SELECT count(*) FROM pairs_${b}_$r) AS n_pairs,
         | (SELECT count(*) FROM (
         |    SELECT doc_a AS d FROM pairs_${b}_$r
         |    UNION SELECT doc_b FROM pairs_${b}_$r)) AS n_docs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH corpus AS ($corpusNearSql),
       |sh AS (
       | SELECT DISTINCT doc_id,
       |  ('0x' || substr(md5(s), 1, 15))::bigint % $P AS h
       | FROM (SELECT doc_id,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
       |  WHERE len(t) >= 2)),
       |mh AS (
       | SELECT doc_id,
       |  $mins
       | FROM sh GROUP BY doc_id),
       |$cfgBlocks
       |$rows
       |ORDER BY bands DESC""".stripMargin
  }

  /** d3: MinHash signature + banded LSH candidate pairs.
    *
    * The signature is ONE codegen'd expression per document
    * ([[graft.functions.MinHashSig]] — md5-prefix base hash and all 16
    * permutation minima in a single pass over the row), replacing the
    * round-1 formulation's shingle explode + doc-keyed 16-min shuffle:
    * nothing doc×shingle-shaped is ever exchanged. Candidate pairs then
    * come from ONE shuffle of (band, key, doc_id) rows — 4 per document
    * — into band buckets, where each bucket's sorted member list emits
    * its pairs row-locally (the classic LSH bucket walk). No self-join,
    * no second scan: the whole operator is map → one bucket shuffle →
    * pair explode → distinct. Bucket lists are near-dup-group-sized by
    * the banding guarantee (degenerate-band collapse is prevented by the
    * wrapped multipliers above). */
  def d3MinHashLsh(s: SparkSession, dir: String): DataFrame =
    d3Pairs(s, dir).orderBy("doc_a", "doc_b")

  /** DuckDB analogue of [[lshPairs]] for an arbitrary corpus CTE body —
    * the oracle-side twin of the shared LSH core. */
  private[operators] def lshPairsSqlFor(corpusSql: String): String = {
    val mins = (0 until NumHashes).map(i =>
      s"min((${hashA(i)} * h + ${hashB(i)}) % $P) AS m$i").mkString(",\n  ")
    val bandSelects = (0 until NumHashes / BandSize).map { bnd =>
      val ks = (0 until BandSize).map(j => s"m${bnd * BandSize + j}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws('_', $ks) AS key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH corpus AS ($corpusSql),
       |sh AS (
       | SELECT DISTINCT doc_id,
       |  ('0x' || substr(md5(s), 1, 15))::bigint % $P AS h
       | FROM (SELECT doc_id,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
       |  WHERE len(t) >= 2)),
       |mh AS (
       | SELECT doc_id,
       |  $mins
       | FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin
  }

  /** d3's candidate-pair query WITHOUT the final ORDER BY — composable as
    * a CTE body (d12 embeds it the way d7 embeds d2PairsSql). */
  lazy val d3PairsSql: String = lshPairsSqlFor(corpusNearSql)

  lazy val d3Sql: String = d3PairsSql + "\nORDER BY doc_a, doc_b"

  /** d4: SimHash near-dup pairs — 64-bit fingerprint (graft.functions.SimHash64,
    * codegen'd FNV-1a majority vote over whitespace tokens), pairs within a
    * prefix block at hamming distance ≤ 12 via bit_count(xor). No SQL
    * oracle (the fingerprint is engine-defined); validated by
    * DedupSpec: planted near-dup pairs must surface, determinism across
    * runs, hamming bounds. */
  def d4SimHash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimHash
    val c = corpusNear(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("blk"),
        SimHash.simhash64(split(col("text"), "\\s+")).as("sh"))
    val a = c.select(col("doc_id").as("doc_a"), col("blk"), col("sh").as("sh_a"))
    val b = c.select(col("doc_id").as("doc_b"), col("blk").as("blk_b"), col("sh").as("sh_b"))
    a.join(b, col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 12)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** d6: winnowing-fingerprint near-dup pairs — rolling-hash fingerprints
    * (graft.functions.WinnowFingerprints) shared ≥60% within a prefix
    * block. Position-robust: unlike d2's n-gram sets, shared substrings
    * of length ≥ W+K-1 guarantee shared fingerprints, so an inserted
    * prefix shifts nothing. Engine-defined hash → spec-validated
    * (planted recall, determinism), no SQL oracle. */
  def d6Winnowing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Winnow
    val c = corpusNear(s, dir)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("blk"),
        Winnow.fingerprints(col("text")).as("fp"))
    val a = c.select(col("doc_id").as("doc_a"), col("blk"), col("fp").as("fp_a"))
    val b = c.select(col("doc_id").as("doc_b"), col("blk").as("blk_b"), col("fp").as("fp_b"))
    a.join(broadcast(b), col("blk") === col("blk_b") && col("doc_a") < col("doc_b"))
      .withColumn("shared", size(array_intersect(col("fp_a"), col("fp_b"))).cast("double") /
        greatest(size(col("fp_a")), size(col("fp_b"))))
      .filter(col("shared") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("shared"))
      .orderBy("doc_a", "doc_b")
  }

  /** d6 registered default: exact-collapse before the quadratic stage
    * (the [[d2NgramJaccardCollapsed]] move). Winnowing fingerprints are
    * computed ONCE per distinct text (under 10× replication the naive
    * form recomputes every rolling-hash pass 10×), and pair scoring runs
    * over distinct-text groups. The within-group score is the same
    * array_intersect expression the naive form evaluates on an
    * identical-text pair — array_intersect de-duplicates, so a
    * fingerprint list with repeats scores below 1.0 and assuming
    * lit(1.0) would diverge; computing it keeps equality structural.
    * Identical output to [[d6Winnowing]] (spec-asserted). */
  def d6WinnowingCollapsed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Winnow
    val g = corpusNear(s, dir)
      .groupBy(col("text"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(substring(col("text"), 1, 40).as("blk"),
        Winnow.fingerprints(col("text")).as("fp"), col("ids"))
    val a = g.select(col("blk"), col("fp").as("fp_a"), col("ids").as("ids_a"))
    val b = g.select(col("blk").as("blk_b"), col("fp").as("fp_b"), col("ids").as("ids_b"))
    def shared(x: Column, y: Column): Column =
      size(array_intersect(x, y)).cast("double") / greatest(size(x), size(y))
    val cross = a.join(broadcast(b), col("blk") === col("blk_b")
        && col("ids_a").getItem(0) < col("ids_b").getItem(0))
      .withColumn("shared", shared(col("fp_a"), col("fp_b")))
      .filter(col("shared") >= 0.6)
      .select(explode(col("ids_a")).as("a"), col("ids_b"), col("shared"))
      .select(col("a"), explode(col("ids_b")).as("b"), col("shared"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("shared"))
    val within = g.filter(size(col("ids")) > 1)
      .withColumn("shared", shared(col("fp"), col("fp")))
      .filter(col("shared") >= 0.6)
      .select(explode(col("ids")).as("a"), col("ids"), col("shared"))
      .select(col("a"), explode(col("ids")).as("b"), col("shared"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("shared"))
    cross.unionByName(within).orderBy("doc_a", "doc_b")
  }

  /** See graft.Checkpoints.release — the shared loop hygiene. */
  private def releaseCheckpoint(df: DataFrame): Unit = graft.Checkpoints.release(df)

  /** Connected components by iterative min-label propagation over an
    * undirected edge list (u, v) — each iteration is one distributed
    * join + map-side-combined min aggregate; the loop runs until no
    * label changes (≤ graph diameter iterations, checked by a cheap
    * driver-side count used ONLY for loop control). Lineage is truncated
    * per iteration (checkpoint) so plans stay flat.
    *
    * Near-dup PAIRS are not a dedup decision — CLUSTERS are: a-b and
    * b-c must collapse to one surviving document even when a-c was never
    * scored. At 100 TB with high-diameter components, swap the
    * propagation loop for the two-phase large-star/small-star variant
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same join-shape per round, O(log n) rounds. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    // materialize the caller's edge derivation ONCE (it is often the
    // expensive part — d-family candidate screens); the materializing
    // checkpoint doubles as the size-gate count
    val (e, n) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(edges.select("u", "v"))
    val out = ccLocalLabels(e, n)
      .getOrElse(connectedComponentsWithRounds(e)._1)
    // the local path has fully consumed e; the frame path's sym0
    // checkpoint supersedes it (labels are checkpoint-backed, never
    // re-reading e)
    releaseCheckpoint(e)
    out
  }

  /** Broadcast-local component labeling: an edge sliver (16 bytes/row)
    * under the [[graft.LocalGate]] budget is labeled in ONE driver-side
    * union-find pass — the HNSW broadcast-local-walk discipline applied
    * to the CC loops, whose bench profile is ~0.7 s of pure fixed stage
    * overhead PER ROUND on a few-thousand-row frame (OPTIMIZATION_r18.md
    * §4). Candidate-pair graphs are a sliver of the corpus BY
    * CONSTRUCTION; a graph above the gate keeps the O(log n) distributed
    * loop. label(x) = min node id of x's component — exactly the fixed
    * point BOTH frame loops converge to (StarComponentsSpec pins local ≡
    * star ≡ propagation). Long-keyed frames only; None routes to the
    * frame loops. */
  private def ccLocalLabels(e: DataFrame, nEdges: Long): Option[DataFrame] =
    graft.LocalGate(e.sparkSession, "cc",
      e.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType),
      () => nEdges * graft.LocalGate.PairRowBytes)(_ => Some(unionFindLabels(e)))

  private def unionFindLabels(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // union-find, roots kept at the component MIN (merging roots keeps
    // the smaller id as parent) with full path compression on find
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(a: Long): Long = {
      var r = a
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var x = a
      while (x != r) { val nx = parent.getOrElse(x, x); parent(x) = r; x = nx }
      r
    }
    val rows = e.collect()
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    rows.foreach { row =>
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        val u = row.getLong(0); val v = row.getLong(1)
        nodes(u) = (); nodes(v) = ()
        val ra = find(u); val rb = find(v)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    // size-derived layout (the frame loops' partition discipline): a
    // LocalRelation otherwise materializes across leafNodeDefault-
    // Parallelism tasks — 32 tasks of ~15 rows each for a sliver graph,
    // pure per-task overhead for every downstream consumer (measured:
    // d7's artifact read 0.08 s off the frame path's 1-partition
    // checkpoint vs 0.28-0.43 s off the 32-way local relation)
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, nodes.size / 50000 + 1))
    nodes.keysIterator.map(id => (id, find(id))).toSeq
      .toDF("id", "label").coalesce(parts)
  }

  /** As [[connectedComponents]], also reporting the propagation-round
    * count. Dup-cluster graphs are SHALLOW (pairs within a block), so d7
    * converges in 3-4 rounds; DupClustersSpec pins that bound so a data
    * change that quietly inflates the iterative driver cost fails a test
    * instead of surfacing as a bench regression. Deep graphs belong to
    * [[connectedComponentsStar]] (O(log n) rounds). */
  private[graft] def connectedComponentsWithRounds(edges: DataFrame): (DataFrame, Int) = {
    // the materializing checkpoint doubles as the sizing count
    // (Shim.localCheckpointWithCount — one job instead of two)
    val (sym0, nSym) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
        .distinct())
    // Right-size the iteration: partition count follows the EDGE count
    // (candidate-pair graphs are a sliver of the corpus — iterating a
    // 2k-row graph across all default partitions pays per-task overhead
    // times rounds for nothing; a 100 TB edge set still gets full
    // parallelism). Both frames hash-partition on their join key with
    // the same count, so each round's join reuses the partitioning
    // instead of re-exchanging.
    val parts = math.max(1, math.min(
      edges.sparkSession.sparkContext.defaultParallelism,
      (nSym / 50000L).toInt + 1))
    val sym = sym0.repartition(parts, col("v")).localCheckpoint()
    var labelsCkpt = sym0.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
      .repartition(parts, col("id")).localCheckpoint()
    // sym + the initial labels are materialized (localCheckpoint is
    // eager); sym0 is never read again
    releaseCheckpoint(sym0)
    var labels = labelsCkpt
    var changed = 1L
    var rounds = 0
    // one propagation round, carrying the pre-batch label as `prev`
    def round(lbl: DataFrame): DataFrame = {
      val nbrMin = sym.join(lbl.select("id", "label"), col("v") === col("id"))
        .groupBy(col("u")).agg(min(col("label")).as("nbr_label"))
      lbl.join(nbrMin, col("id") === col("u"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          col("prev"))
    }
    while (changed > 0 && rounds < 50) {
      // TWO propagation rounds per driver action: the convergence count is
      // pure loop control, and paying it (plus a checkpoint job) every
      // round doubled the driver-side job count — dup-cluster graphs are
      // shallow, so the loop cost is actions × fixed job overhead, not
      // data volume. A batch that applies a no-op second round costs one
      // cheap re-join of an already-converged label frame
      val base = labels.select(col("id"), col("label"), col("label").as("prev"))
      // the convergence probe (any label < prev?) rides the checkpoint's
      // own materializing job as an accumulator tally
      // (Shim.localCheckpointCounting) — one driver action per batch
      // instead of checkpoint + filter-count
      val (updated, nChanged) = org.apache.spark.sql.graftshim.Shim
        .localCheckpointCounting(
          round(round(base)).repartition(parts, col("id")),
          col("label") < col("prev"))
      changed = nChanged
      releaseCheckpoint(labelsCkpt) // superseded — `updated` is materialized
      labelsCkpt = updated
      labels = updated.select("id", "label")
      rounds += 2
    }
    require(changed == 0, s"connectedComponents did not converge in $rounds rounds")
    releaseCheckpoint(sym)
    // the final labels checkpoint stays persisted — it IS the result the
    // caller consumes; one bounded (one-row-per-node) block per call
    (labels, rounds)
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round scale path for graphs whose
    * diameter makes per-hop min-propagation (connectedComponents above)
    * too many rounds. Each round:
    *
    *  - large-star: every node connects its strictly-LARGER neighbors
    *    to the minimum of its closed neighborhood — long chains fold
    *    toward local minima;
    *  - small-star: on the resulting downward-directed graph, every
    *    node connects its smaller neighbors (and itself) to its minimum
    *    neighbor — stars flatten.
    *
    * Both halves are one groupBy(node) min + one self-join shape — the
    * same shuffle structure as a propagation round, but the round count
    * is O(log n) instead of O(diameter). Converged when a small-star
    * round reproduces its input edge set; the surviving edges form
    * stars (node → component-min), which IS the label assignment.
    *
    * Spec-validated (ScaleSpecs): identical components to
    * connectedComponents on the d2 graph, and convergence on a
    * 200-node path whose diameter would need 199 propagation rounds. */
  def connectedComponentsStar(edges: DataFrame): DataFrame = {
    // materialize the edge sliver ONCE: the r17 form computed the
    // caller's (often expensive — p11 passes cosine-verified candidate
    // edges) edge derivation THREE times — the sizing count, the first
    // large-star round, and the final node-set scan. The materializing
    // checkpoint doubles as the sizing count (one job, one computation).
    val (e, nEdges) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(edges.select("u", "v"))
    // size-gated broadcast-local labeling (see [[ccLocalLabels]]): a
    // sliver-sized graph resolves in one driver pass; the O(log n)
    // distributed loop below is the above-gate path
    val local = ccLocalLabels(e, nEdges)
    if (local.isDefined) { releaseCheckpoint(e); return local.get }
    val parts = math.max(1, math.min(
      edges.sparkSession.sparkContext.defaultParallelism,
      (nEdges / 50000L).toInt + 1))
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).distinct()
      val m = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input edges point downward (u > v); m = min neighbor of u
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      val moved = e.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.unionByName(m.select(col("u"), col("m").as("v"))).distinct()
    }
    // per round ONE driver action: the materializing checkpoint returns
    // the round's edge count (Shim.localCheckpointWithCount) — the r17
    // form paid checkpoint + count as two jobs per round. Set equality
    // stays (equal cardinality) ∧ (one-way inclusion): both frames end
    // in .distinct(), and the exceptAll only runs on the (rare)
    // count-stable rounds.
    var (cur, curCount) = org.apache.spark.sql.graftshim.Shim
      .localCheckpointWithCount(largeStar(e).repartition(parts, col("u")))
    var done = false
    var iter = 0
    while (!done && iter < 20) {
      val (next, nextCount) = org.apache.spark.sql.graftshim.Shim
        .localCheckpointWithCount(
          smallStar(largeStar(cur)).repartition(parts, col("u")))
      done = nextCount == curCount && next.exceptAll(cur).isEmpty
      curCount = nextCount
      releaseCheckpoint(cur)
      cur = next
      iter += 1
    }
    require(done, s"connectedComponentsStar did not converge in $iter rounds")
    // converged edges are (node -> component min); roots have no outgoing
    // edge, so they label themselves
    val nodes = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id"))).distinct()
    val stars = cur.groupBy(col("u")).agg(min(col("v")).as("lbl"))
      .select(col("u").as("id"), col("lbl"))
    nodes.join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
  }

  /** d7: near-dup CLUSTERS — connected components over the d2 pair set;
    * cluster id = min doc_id in the component (the surviving document).
    * Labels come from the memoized [[jaccardClusterArtifact]]: the pair
    * scoring + CC loop (the dominant term) is paid once per (session,
    * corpus), the d12-family amortization applied to the d2 graph. */
  def d7DupClusters(s: SparkSession, dir: String): DataFrame =
    jaccardClusterArtifact(s, dir)._2
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")

  /** Oracle: transitive closure via recursive CTE, min reachable id. */
  lazy val d7Sql: String =
    s"""WITH RECURSIVE pairs AS ($d2PairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
       |SELECT u AS doc_id, min(v) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  /** d5: embedding-cosine near-dup pairs (threshold 0.99) within label
    * blocks; planted exact copies of every 20th vector. */
  def d5EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding"))
    val c = e.unionByName(planted)
    val l = c.select(col("vec_id").as("vec_a"), col("label"), col("embedding").as("emb_a"))
    val r = c.select(col("vec_id").as("vec_b"), col("label").as("label_b"), col("embedding").as("emb_b"))
    // label has ~10 distinct values: a shuffle join on it caps parallelism
    // at 10 hot partitions. What is broadcast here is the FULL probe-side
    // table (base + planted copies) — fine at this corpus size (few MB),
    // wrong for a corpus that outgrows executor memory. The scale path is
    // the salted replicate join below (d5EmbeddingNearDupSalted): same
    // result, parallelism label-count × salts, no broadcast of the corpus.
    l.join(broadcast(r), col("label") === col("label_b") && col("vec_a") < col("vec_b"))
      .filter(V.cosine(col("emb_a"), col("emb_b")) > 0.99)
      .select("vec_a", "vec_b", "label")
      .orderBy("vec_a", "vec_b")
  }

  /** d5 scale path: salted replicate join. The left side hashes to one of
    * `salts` sub-blocks per label; the right side replicates once per
    * salt. Join key (label, salt) has label-count × salts values, so a
    * 10-label corpus no longer caps at 10 reducer partitions, and nothing
    * is broadcast — shuffle volume is |l| + salts × |r|, each partition
    * holding a 1/salts slice of a label block. Identical output to
    * [[d5EmbeddingNearDup]] (spec-asserted). */
  def d5EmbeddingNearDupSalted(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding"))
    val c = e.unionByName(planted)
    val l = c.select(col("vec_id").as("vec_a"), col("label"), col("embedding").as("emb_a"))
      .withColumn("salt", pmod(hash(col("vec_a")), lit(salts)))
    val r = c.select(col("vec_id").as("vec_b"), col("label").as("label_b"), col("embedding").as("emb_b"))
      .withColumn("salt_b", explode(array((0 until salts).map(lit(_)): _*)))
    l.join(r, col("label") === col("label_b") && col("salt") === col("salt_b")
        && col("vec_a") < col("vec_b"))
      .filter(V.cosine(col("emb_a"), col("emb_b")) > 0.99)
      .select("vec_a", "vec_b", "label")
      .orderBy("vec_a", "vec_b")
  }

  /** d5 registered default: exact-collapse BEFORE the quadratic stage.
    * Identical (label, embedding) rows are grouped once — d1's move
    * applied ahead of pairwise scoring — and the cosine scan runs over
    * DISTINCT vector groups, so scored pairs grow with the square of
    * distinct vectors, not raw rows. The sf1 decade (10× byte-identical
    * replicas) put the naive all-pairs form at 19× sf0.1's time;
    * collapsed, the pair count at sf1 equals sf0.1's. Member ids expand
    * back relationally: cross-group pairs explode both sorted member
    * lists (least/greatest normalizes orientation; each unordered pair
    * appears exactly once because group pairs score with
    * min-member-id ordering), within-group pairs explode one list twice
    * — identical vectors score cosine 1 > τ, but the explicit
    * self-cosine filter keeps equality with the naive form structural
    * even for a degenerate (zero) vector. This form broadcasts the
    * DISTINCT-group table — the naive default's broadcast position with
    * a strictly smaller table; the REGISTERED default is
    * [[d5EmbeddingNearDupCollapsedSalted]], the same collapse over the
    * salted replicate join (nothing broadcast at all — the d11
    * standard; measured parity at sf0.1, both ~0.7s warm). Identical
    * output to [[d5EmbeddingNearDup]] (spec-asserted). */
  def d5EmbeddingNearDupCollapsed(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val g = d5Groups(s, dir)
    val l = g.select(col("label"), col("embedding").as("emb_a"), col("ids").as("ids_a"))
    val r = g.select(col("label").as("label_b"), col("embedding").as("emb_b"),
      col("ids").as("ids_b"))
    val cross = l.join(broadcast(r), col("label") === col("label_b")
        && col("ids_a").getItem(0) < col("ids_b").getItem(0))
      .filter(V.cosine(col("emb_a"), col("emb_b")) > 0.99)
      .select(col("label"), explode(col("ids_a")).as("a"), col("ids_b"))
      .select(col("label"), col("a"), explode(col("ids_b")).as("b"))
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"), col("label"))
    cross.unionByName(d5WithinGroupPairs(g)).orderBy("vec_a", "vec_b")
  }

  /** Distinct (label, embedding) groups of the d5 corpus with sorted
    * member ids — the collapse artifact both d5 collapsed forms share. */
  private def d5Groups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val planted = e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding"))
    e.unionByName(planted)
      .groupBy(col("label"), col("embedding"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
  }

  /** Within-group pair expansion shared by the d5 collapsed forms. */
  private def d5WithinGroupPairs(g: DataFrame): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    g.filter(size(col("ids")) > 1)
      .filter(V.cosine(col("embedding"), col("embedding")) > 0.99)
      .select(col("label"), explode(col("ids")).as("a"), col("ids"))
      .select(col("label"), col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("label"))
  }

  /** d5 REGISTERED default: the collapse over the salted replicate join
    * — nothing broadcast, parallelism labels × salts; the 100 TB form
    * even when distinct content outgrows executor memory. Spec-equal to
    * the broadcast collapse and the naive form. */
  def d5EmbeddingNearDupCollapsedSalted(s: SparkSession, dir: String,
      salts: Int = 8): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val g = d5Groups(s, dir)
    val l = g.select(col("label"), col("embedding").as("emb_a"), col("ids").as("ids_a"))
      .withColumn("salt", pmod(hash(col("ids_a").getItem(0)), lit(salts)))
    val r = g.select(col("label").as("label_b"), col("embedding").as("emb_b"),
        col("ids").as("ids_b"))
      .withColumn("salt_b", explode(array((0 until salts).map(lit(_)): _*)))
    val cross = l.join(r, col("label") === col("label_b")
        && col("salt") === col("salt_b")
        && col("ids_a").getItem(0) < col("ids_b").getItem(0))
      .filter(V.cosine(col("emb_a"), col("emb_b")) > 0.99)
      .select(col("label"), explode(col("ids_a")).as("a"), col("ids_b"))
      .select(col("label"), col("a"), explode(col("ids_b")).as("b"))
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"), col("label"))
    cross.unionByName(d5WithinGroupPairs(g)).orderBy("vec_a", "vec_b")
  }

  val d5Sql: String =
    """WITH corpus AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, label, embedding
      |  FROM embeddings WHERE vec_id % 20 = 0)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
      |FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.99
      |ORDER BY vec_a, vec_b""".stripMargin

  /** d11 corpus: base embeddings ∪ exact copies of every 20th vector
    * (id+100000) — the d5 planting scheme, no label column (SemDeDup's
    * whole premise is that no blocking metadata exists). */
  private[operators] def d11Corpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  /** Trained codebook that BOTH engines can replicate bit-exactly: one
    * k-medoids step. Per label, the exact-integer micro centroid (the v4
    * order-independent fixed-point math), then the MEDOID — the stored
    * vector nearest its centroid ("cos DESC, vec_id ASC"). Codebook
    * entries are therefore raw corpus vectors (bit-identical floats in
    * both engines), and the training is data-derived rather than "first k
    * rows". Full Lloyd's-iteration k-means lives in
    * [[d11SemanticDedupTrained]] (spec-validated): a float iterative
    * fixpoint is not cross-engine reproducible, so it cannot back a
    * hash-compared oracle (repo oracle rule, SURVEY oracle-rules).
    *
    * Centroid micro components are whole numbers < 2^24 (|component| <=
    * 0.6 so |micro| <= 6e5), so the implicit double-to-float cast on the
    * cosine input is EXACT — both engines score against the same reals.
    *
    * Scale: the per-dim agg is (labels × dim)-bound, the medoid argmax is
    * a broadcast join + bounded top-1 aggregate, and the final codebook
    * is one collect_list row over |labels| rows — nothing corpus-sized
    * ever shuffles. */
  private[operators] def d11MedoidCodebook(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val e = Tables.embeddings(s, dir).select("vec_id", "label", "embedding")
    val cent = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 1e6)).as("sum_micro"))
      .select(col("label"), col("dim"),
        floor(col("sum_micro").cast("double") / col("n")).as("micro"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("micro")))).as("cm"))
      .select(col("label"), expr("transform(cm, x -> cast(x.micro as float))").as("cemb"))
    // payload-carrying bounded top-1 keeps the winning vector WITH its id
    // ("cos DESC, vec_id ASC" tie-break) — no join back onto the corpus
    // to re-fetch the medoid's embedding, one fewer scan
    val medoid = e.join(broadcast(cent), "label")
      .groupBy("label")
      .agg(graft.functions.TopKRows.topKRowsByScore(
        V.cosine(col("embedding"), col("cemb")), col("vec_id"),
        struct(col("embedding")), 1).as("w"))
      .select(col("label").as("cid"),
        element_at(col("w"), 1).getField("embedding").as("cemb"))
    medoid.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
  }

  /** Codebook from [[graft.sources.IvfIndex.train]]'s distributed k-means
    * (the production path when labels don't exist); cid = centroid index. */
  def d11TrainedCodebook(s: SparkSession, dir: String, k: Int = 10, seed: Long = 42L): DataFrame = {
    import s.implicits._
    val cents = graft.sources.IvfIndex.train(Tables.embeddings(s, dir), k, seed)
    Seq((cents.indices.toArray, cents)).toDF("cids", "cembs")
  }

  /** Map-only cluster assignment: codebook broadcast as one row,
    * graft.functions.NearestIndex argmax inside whole-stage codegen (the
    * s4 IVF primitive) — zero corpus shuffle. */
  private def d11Assign(corpus: DataFrame, codebook: DataFrame): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    corpus.crossJoin(broadcast(codebook))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
  }

  /** Dominance test: survivor = no lower-id neighbor with cosine > 0.99
    * in its cluster (τ reuses d5's validated margin — planted copies
    * score ~1, nothing organic crosses 0.99). The corpus-as-build-side
    * broadcast is fine at small data and wrong at 100 TB, so this form
    * is the small-data VARIANT only; the registered default is
    * [[d11SurvivorsSalted]], same output (spec-asserted). */
  private def d11Survivors(assigned: DataFrame): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val earlier = assigned
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("cid").as("b_cid"))
    assigned.join(broadcast(earlier),
        col("cid") === col("b_cid") && col("b_id") < col("vec_id")
          && V.cosine(col("embedding"), col("b_emb")) > 0.99,
        "left_anti")
      .select("vec_id", "cid")
      .orderBy("vec_id")
  }

  /** Scale path for the dominance test: salted shuffled anti-join on
    * (cid, salt) — the d5EmbeddingNearDupSalted pattern. The probe side
    * hashes into one of `salts` sub-blocks per cluster; the candidate
    * side replicates once per salt, so any dominating neighbor is present
    * in the probe row's own salt and the anti-join stays sound. Join-key
    * cardinality is clusters × salts (no hot-cluster reducer pile-up) and
    * nothing corpus-sized is broadcast — shuffle volume is |corpus| +
    * salts × |corpus|, each partition a 1/salts slice of a cluster. */
  private def d11SurvivorsSalted(assigned: DataFrame, salts: Int): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val probe = assigned.withColumn("salt", pmod(hash(col("vec_id")), lit(salts)))
    val earlier = assigned
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("cid").as("b_cid"))
      .withColumn("salt_b", explode(array((0 until salts).map(lit(_)): _*)))
    probe.join(earlier,
        col("cid") === col("b_cid") && col("salt") === col("salt_b")
          && col("b_id") < col("vec_id")
          && V.cosine(col("embedding"), col("b_emb")) > 0.99,
        "left_anti")
      .select("vec_id", "cid")
      .orderBy("vec_id")
  }

  /** d11: SEMANTIC dedup (the SemDeDup recipe, arXiv:2303.09540) —
    * cluster the embedding space coarsely with a trained codebook, then
    * keep ONE representative (lowest id) of every within-cluster
    * near-duplicate group. Unlike d5 (which blocks on stored label
    * metadata and REPORTS pairs), d11 derives its blocks from the
    * geometry itself and emits the DEDUPLICATED corpus — the shape used
    * to prune web-scale image/text corpora where no blocking metadata
    * exists. Reference analogue: embedding-space dedup of the Pinecone
    * namespace (controllers/embeddingController.js:10-57).
    *
    * Stages: trained medoid codebook → map-only NearestIndex assignment
    * → anti-join dominance test → surviving corpus (never a pair list).
    *
    * This broadcast-dominance form is the SMALL-DATA variant (the corpus
    * is the broadcast build side); the registered `d11_semantic_dedup`
    * query is [[d11SemanticDedupSalted]], which plans the same output
    * with a shuffled salted anti-join instead. */
  def d11SemanticDedup(s: SparkSession, dir: String): DataFrame =
    d11Survivors(d11Assign(d11Corpus(s, dir), d11MedoidCodebook(s, dir)))

  /** d11 with the salted dominance join — identical output to
    * [[d11SemanticDedup]] (spec-asserted, OperatorSpecs "d11 salted
    * dominance", auto-broadcast disabled so the shuffled path is the one
    * validated), no corpus-sized broadcast anywhere in the plan
    * (plan-asserted, ScaleSpecs SemanticDedupPlanSpec: the dominance
    * anti-join must be a shuffled join, never BroadcastHashJoin). This is
    * the registered default: at 100 TB the corpus can never be a
    * broadcast build side, while the codebook (one row) and the
    * per-label centroid frame stay broadcast-safe at any corpus size. */
  def d11SemanticDedupSalted(s: SparkSession, dir: String, salts: Int = 8): DataFrame =
    d11SurvivorsSalted(d11Assign(d11Corpus(s, dir), d11MedoidCodebook(s, dir)), salts)

  /** d11 with a k-means codebook from IvfIndex.train — the label-free
    * production path. The survivor set is codebook-INDEPENDENT (an exact
    * copy always lands in its original's cluster; nothing organic crosses
    * τ), which the spec asserts for a codebook the oracle never saw. */
  def d11SemanticDedupTrained(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    d11Survivors(d11Assign(d11Corpus(s, dir), d11TrainedCodebook(s, dir, k)))

  /** Oracle: same fixed-point centroid → medoid → argmax assignment →
    * NOT EXISTS dominance, all cosines forced to double (matching the
    * engine's float-inputs-double-accumulation contract). */
  val d11Sql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id % 20 = 0),
      |cent AS (
      |  SELECT label, list(cast(micro AS double) ORDER BY dim) AS cemb
      |  FROM (
      |    SELECT label, dim,
      |      cast(floor(cast(sum(cast(floor(cast(v AS double) * 1e6) AS bigint)) AS double)
      |                 / count(*)) AS bigint) AS micro
      |    FROM (SELECT label, unnest(embedding) AS v,
      |                 unnest(range(len(embedding))) AS dim FROM embeddings)
      |    GROUP BY label, dim)
      |  GROUP BY label),
      |medoid AS (
      |  SELECT e.label AS cid, e.embedding AS cemb
      |  FROM embeddings e JOIN cent c ON e.label = c.label
      |  QUALIFY row_number() OVER (PARTITION BY e.label
      |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cemb) DESC,
      |             e.vec_id ASC) = 1),
      |assigned AS (
      | SELECT c.vec_id, c.embedding, m.cid
      | FROM corpus c CROSS JOIN medoid m
      | QUALIFY row_number() OVER (PARTITION BY c.vec_id
      |   ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                   CAST(m.cemb AS DOUBLE[])) DESC, m.cid ASC) = 1)
      |SELECT a.vec_id, a.cid FROM assigned a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM assigned b
      |  WHERE b.cid = a.cid AND b.vec_id < a.vec_id
      |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                               CAST(b.embedding AS DOUBLE[])) > 0.99)
      |ORDER BY vec_id""".stripMargin

  // ---- d25: prototypicality pruning (the D4 second stage) ----

  /** Keep fraction for [[d25ProtoPrune]] — the ε=25% most-prototypical
    * members of every cluster are dropped. Kept rational (3/4) so the
    * rank ceil(0.75·n) is integer-exact in both engines. */
  val ProtoPruneQ = 0.75

  /** Map-only assignment that carries the prototypicality SCORE: cid
    * from the NearestIndex argmax (the d11 primitive) and the cosine to
    * the chosen centroid, both inside one projection against the one-row
    * broadcast codebook — zero corpus shuffle. */
  private def d25AssignScored(corpus: DataFrame, codebook: DataFrame): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    corpus.crossJoin(broadcast(codebook))
      .withColumn("ni", V.nearest(col("embedding"), col("cembs")))
      .select(col("vec_id"),
        element_at(col("cids"), col("ni") + 1).as("cid"),
        V.cosine(col("embedding"), element_at(col("cembs"), col("ni") + 1)).as("proto"))
  }

  /** d25: PROTOTYPICALITY PRUNING — the D4 second stage (Tirumala et
    * al. arXiv:2308.12284 = SemDeDup + SSL-prototypes, Sorscher et al.
    * arXiv:2206.14486): where d11 removes near-DUPLICATES, this removes
    * the most PROTOTYPICAL ε of every cluster — the near-centroid mass
    * that is semantically redundant with the rest of its cluster even
    * though no single pair crosses a duplicate threshold (the published
    * result: dropping it beats random pruning at equal token budget).
    * Reference analogue: pruning the Pinecone namespace before re-train
    * (embeddingController.js:10-57 is the store this selects from).
    *
    * Mechanics: d11's medoid codebook → map-only assignment + cosine
    * score against the chosen centroid (one projection, codebook is a
    * one-row broadcast) → per-cluster DISC cutoff at rank ceil(0.75·n)
    * from the bounded [[Quantiles]] machinery (the t20 rule: NEVER a
    * row_number window partitioned by the low-cardinality cid — that
    * sorts the corpus in |clusters| reducer partitions) → survivors =
    * score ≤ cutoff, value-based so ties keep identically in both
    * engines. The scored frame is localCheckpoint'd once (quantile stack
    * + final filter both read it). Cosines are bit-identical across
    * engines (float inputs, double accumulation — the d5/d11 contract),
    * so the cutoff VALUE and the survivor set hash-match exactly.
    *
    * Scale: centroid agg is (labels × dim)-bound; assignment+score is
    * map-only; the quantile stack shuffles ≤ clusters × B histogram
    * partials per partition; cutoffs broadcast back (≤ |clusters| rows)
    * so the keep-filter is map-side. Nothing corpus-sized joins or
    * sorts at 100 TB. */
  def d25ProtoPrune(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val scored = d25AssignScored(corpus, d11MedoidCodebook(s, dir)).localCheckpoint()
    val cuts = Quantiles.exactGroupedQuantiles(scored, "cid", "proto",
        Seq("q" -> ProtoPruneQ))
      .select(col("cid"), col("v").as("cut"))
    scored.join(broadcast(cuts), Seq("cid"))
      .filter(col("proto") <= col("cut"))
      .select("vec_id", "cid")
      .orderBy("vec_id")
  }

  /** Oracle: the d11 cent/medoid CTEs verbatim, assignment carrying the
    * score, cutoff = the value at rank ceil(0.75·n) per cid (the DISC
    * quantile the Quantiles machinery computes), survivors by the same
    * value-based compare. */
  val d25Sql: String =
    """WITH cent AS (
      |  SELECT label, list(cast(micro AS double) ORDER BY dim) AS cemb
      |  FROM (
      |    SELECT label, dim,
      |      cast(floor(cast(sum(cast(floor(cast(v AS double) * 1e6) AS bigint)) AS double)
      |                 / count(*)) AS bigint) AS micro
      |    FROM (SELECT label, unnest(embedding) AS v,
      |                 unnest(range(len(embedding))) AS dim FROM embeddings)
      |    GROUP BY label, dim)
      |  GROUP BY label),
      |medoid AS (
      |  SELECT e.label AS cid, e.embedding AS cemb
      |  FROM embeddings e JOIN cent c ON e.label = c.label
      |  QUALIFY row_number() OVER (PARTITION BY e.label
      |    ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cemb) DESC,
      |             e.vec_id ASC) = 1),
      |assigned AS (
      | SELECT c.vec_id, m.cid,
      |  list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                         CAST(m.cemb AS DOUBLE[])) AS proto
      | FROM embeddings c CROSS JOIN medoid m
      | QUALIFY row_number() OVER (PARTITION BY c.vec_id
      |   ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                   CAST(m.cemb AS DOUBLE[])) DESC, m.cid ASC) = 1),
      |cut AS (
      | SELECT cid, max(v) AS cut FROM (
      |  SELECT cid, proto AS v,
      |   row_number() OVER (PARTITION BY cid ORDER BY proto) AS rn,
      |   cast(ceil(0.75 * count(*) OVER (PARTITION BY cid)) AS bigint) AS r
      |  FROM assigned) WHERE rn = r GROUP BY cid)
      |SELECT a.vec_id, a.cid FROM assigned a JOIN cut ON a.cid = cut.cid
      |WHERE a.proto <= cut.cut
      |ORDER BY vec_id""".stripMargin

  /** The dedup family's SHARED ARTIFACT: the d3 LSH collision sliver
    * (candidate pairs) and its connected-component labels, computed once
    * per (session, corpus dir) and reused by every consumer — d12
    * (surviving corpus), d13 (split audit), d14 (cluster split), d16
    * (duplication profile). A real pipeline runs these as one job over
    * one corpus; before this artifact each query independently re-paid
    * the corpus-wide LSH pass and (except d13) its own CC loop — at
    * 100 TB that dominant term was being paid four times for identical
    * results. Both frames are sliver-bound: pairs = band collisions,
    * labels = one row per colliding doc; `pairs` is localCheckpoint'd
    * and `labels` is the CC loop's final checkpoint, so every reuse
    * reads materialized rows instead of re-deriving the lineage.
    *
    * Memoization is keyed on the exact (SparkSession, dir) identity:
    * a new session or corpus recomputes; entries live for the session
    * (bounded — two sliver-sized persisted frames per corpus). */
  private val clusterArtifactCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  /** The d2 (char-3-gram Jaccard) pair sliver + its CC labels, memoized
    * per (session, corpus) like [[clusterArtifact]] — the d7 family's
    * artifact. A pipeline that consults cluster labels repeatedly (d7
    * re-runs, incremental audits) pays the pair scoring + CC term once
    * per corpus; both frames are collision-sliver-bound. */
  private val jaccardArtifactCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  private[operators] def jaccardClusterArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    jaccardArtifactCache.getOrElseUpdate((s, dir), {
      val pairs = d2NgramJaccardCollapsed(s, dir)
        .select("doc_a", "doc_b").localCheckpoint()
      // checkpoint the MEMOIZED labels: the broadcast-local CC path
      // returns a LocalRelation whose rows would otherwise be re-embedded
      // in every consumer's plan for the artifact's whole lifetime
      val labels = connectedComponents(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
        .localCheckpoint()
      (pairs, labels)
    })

  /** (pairs, labels) for the corpusNear LSH collision graph — see
    * [[clusterArtifactCache]]. */
  private[operators] def clusterArtifact(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    clusterArtifactCache.getOrElseUpdate((s, dir), {
      val pairs = d3Pairs(s, dir).localCheckpoint()
      // see jaccardClusterArtifact — memoized labels stay checkpoint-backed
      val labels = connectedComponents(
        pairs.select(col("doc_a").as("u"), col("doc_b").as("v")))
        .localCheckpoint()
      (pairs, labels)
    })

  /** d12: end-to-end FUZZY DEDUP — the full MinHash pipeline a web-scale
    * text corpus actually runs (the FineWeb/RefinedWeb recipe): d3's LSH
    * candidate pairs → connected components → keep the MIN-id document of
    * every near-dup cluster → emit the SURVIVING corpus with its collapsed
    * duplicate count. d3 reports candidate pairs and d7 reports cluster
    * labels; d12 is the actionable artifact — the deduplicated corpus.
    *
    * Plan: pairs and components come from the family's shared
    * [[clusterArtifact]] (activity-bound — docs that collide in some LSH
    * band, a sliver of the corpus); the only corpus-sized operation is
    * one doc_id-keyed left join of the corpus against that sliver.
    * Conservation invariant (spec-asserted): every corpus doc is
    * counted exactly once — sum(n_dups + 1) over survivors = |corpus|.
    * Recall is d3's: an LSH-missed pair leaves both docs surviving, which
    * is the honest semantics of candidate-based dedup. */
  def d12FuzzyDedup(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterArtifact(s, dir)._2
    val comp = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
    // sliver joins sliver (members × their cluster size) BEFORE the corpus
    // is involved, so the corpus-sized table goes through exactly ONE
    // doc_id-keyed join
    val members = labels.join(comp, Seq("label"))
      .select(col("id").as("doc_id"), col("label"), col("n_members"))
    corpusNear(s, dir).select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"),
        coalesce(col("n_members") - 1, lit(0L)).as("n_dups"))
      .orderBy("doc_id")
  }

  /** d16: DUPLICATION PROFILE — the corpus-health report a dedup run is
    * judged by (the cluster-size histogram in every dedup writeup): how
    * many near-dup clusters exist at each size, and how many documents
    * they absorb. Size-1 row = documents that collide in no LSH band
    * (the unique mass); sizes ≥ 2 come from connected components over
    * the d3 candidate graph. sum(n_docs) over the profile = |corpus|
    * (spec-asserted conservation, the d12 invariant).
    *
    * Plan: components come from the family's shared [[clusterArtifact]]
    * (collision-sliver-bound); the singleton count is two one-row
    * aggregates (corpus count − labeled count) cross-joined — the
    * corpus-sized table contributes ONE map-combined count, no join.
    * The histogram is a double group-count-bound rollup (label → size →
    * histogram). */
  def d16DupProfile(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterArtifact(s, dir)._2
    val hist = labels.groupBy("label").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
      .select(col("csize"), col("n_clusters"),
        (col("csize") * col("n_clusters")).as("n_docs"))
    val singles = corpusNear(s, dir).agg(count(lit(1)).as("nc"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("nl"))))
      .select(lit(1L).as("csize"), (col("nc") - col("nl")).as("n_clusters"),
        (col("nc") - col("nl")).as("n_docs"))
    singles.unionByName(hist).orderBy("csize")
  }

  /** Oracle: d3 pairs + recursive closure (the d12 pattern), sizes
    * histogram, singleton row from the two counts. */
  lazy val d16Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3PairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labels AS (SELECT u AS id, min(v) AS label FROM reach GROUP BY u),
       |sizes AS (SELECT label, count(*) AS csize FROM labels GROUP BY label),
       |hist AS (
       |  SELECT csize, count(*) AS n_clusters, csize * count(*) AS n_docs
       |  FROM sizes GROUP BY csize),
       |corpus AS ($corpusNearSql)
       |SELECT cast(1 AS bigint) AS csize,
       |  (SELECT count(*) FROM corpus) - (SELECT count(*) FROM labels) AS n_clusters,
       |  (SELECT count(*) FROM corpus) - (SELECT count(*) FROM labels) AS n_docs
       |UNION ALL
       |SELECT cast(csize AS bigint), cast(n_clusters AS bigint), cast(n_docs AS bigint)
       |FROM hist
       |ORDER BY csize""".stripMargin

  /** Train fraction of the d13 content-hash split, in ppm. */
  val TrainPpm = 900000L

  /** d13: dedup-aware SPLIT-LEAKAGE audit — the check a training
    * pipeline runs before shipping a train/validation split: assign
    * every doc to a split by content hash (reproducible, no RNG — the
    * t15/t16 rule; train iff hash-ppm < [[TrainPpm]]), then count the
    * near-dup pairs that CROSS the split. A crossing pair leaks training
    * content into validation (the contamination d3/d12 exist to prevent),
    * so the leak count is the split's integrity metric; the fix is
    * splitting by d12 CLUSTER instead of by document.
    *
    * Plan: the split flags ride the corpus scan (map-only hash); the
    * pair sliver is the family's shared [[clusterArtifact]], and the
    * audit joins that ACTIVITY-BOUND sliver against the corpus twice
    * — keyed on doc id, so at 100 TB both joins semi-reduce the corpus
    * side to pair members before anything wide moves (the pair set is
    * broadcastable by construction: it's the d3 collision sliver).
    * Output is one row: split sizes, pair count, leak count. */
  def d13SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val split = corpusNear(s, dir).select(col("doc_id"),
      (graft.functions.Md5PrefixModF(col("text"), P) % 1000000L < TrainPpm).as("in_train"))
    val pairs = clusterArtifact(s, dir)._1
    val sa = split.select(col("doc_id").as("doc_a"), col("in_train").as("train_a"))
    val sb = split.select(col("doc_id").as("doc_b"), col("in_train").as("train_b"))
    val audited = pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("train_a") =!= col("train_b"), 1L).otherwise(0L)).as("n_leaks"))
    val sizes = split.agg(
      sum(when(col("in_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("in_train"), 1L).otherwise(0L)).as("n_val"))
    sizes.crossJoin(audited)
      .select(col("n_train"), col("n_val"), col("n_pairs"), col("n_leaks"))
  }

  lazy val d13Sql: String =
    s"""WITH pairs AS ($d3PairsSql),
       |split AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(text), 1, 15))::bigint % $P % 1000000 < $TrainPpm AS in_train
       |  FROM ($corpusNearSql)),
       |audited AS (
       |  SELECT count(*) AS n_pairs,
       |    cast(sum(CASE WHEN a.in_train <> b.in_train THEN 1 ELSE 0 END) AS bigint) AS n_leaks
       |  FROM pairs p
       |  JOIN split a ON p.doc_a = a.doc_id
       |  JOIN split b ON p.doc_b = b.doc_id),
       |sizes AS (
       |  SELECT cast(sum(CASE WHEN in_train THEN 1 ELSE 0 END) AS bigint) AS n_train,
       |    cast(sum(CASE WHEN in_train THEN 0 ELSE 1 END) AS bigint) AS n_val
       |  FROM split)
       |SELECT n_train, n_val, n_pairs, n_leaks FROM sizes CROSS JOIN audited""".stripMargin

  /** d9's new batch: remaining docs ∪ re-crawls of every 10th existing
    * doc ∪ in-batch copies of every 20th new doc (shared with d15). */
  private def d9NewBatch(s: SparkSession, dir: String): DataFrame = {
    val d = base(s, dir)
    d.filter(col("doc_id") >= 400)
      .unionByName(d.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") >= 400 && col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
  }

  /** Bloom-probe core over ANY (existingFp: one `fp` column, batch:
    * `doc_id`+`fp`) pair — factored out so fixtures can drive the edge
    * cases the driver corpus never produces (empty index, all-new batch).
    *
    * Distributed build: each partition folds its fps into a local sketch,
    * partials OR together — ONE compact binary row. Delivered to the
    * probe as a SCALAR SUBQUERY (the mechanics Spark's own runtime-filter
    * injection uses): evaluated once per query, passed to executors by
    * reference — never a megabyte literal in the generated code, never a
    * driver collect in the operator body.
    *
    * The `coalesce(..., false)` guards the EMPTY-INDEX case: an empty
    * aggregate yields a NULL sketch, might_contain(NULL, x) is NULL, and
    * without the guard BOTH probe branches (maybe / !maybe) would drop
    * every row — silently emptying the batch. NULL collapses to "not in
    * the index", which is exactly what an empty index means
    * (fixture-asserted). */
  private[operators] def bloomProbe(existingFp: DataFrame, batch: DataFrame): DataFrame =
    bloomProbeFrom(bloomSketch(existingFp), batch)

  /** The fp index folded into its ONE-ROW binary Bloom sketch — the
    * frame [[bloomProbeFrom]] consumes, and the PERSISTED ARTIFACT of a
    * recurring crawl at 100 TB: write this row once per index build
    * ([[bloomSketchWrite]]), and every subsequent batch probes the
    * stored sketch without touching the index again (the amortization
    * d15's scaladoc promises). */
  private[operators] def bloomSketch(existingFp: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.graftshim.Shim
    val bfAgg = new BloomFilterAggregate(
      new XxHash64(Seq(Shim.expression(col("fp"))), 42L),
      Literal(1000000L), Literal(8L * 1024 * 1024))
    existingFp.select(Shim.column(bfAgg.toAggregateExpression()).as("bf"))
  }

  /** Persist / reload the sketch: one binary row of parquet. The seed
    * and sizing are part of [[bloomSketch]]'s definition, so a reloaded
    * sketch probes identically to a freshly built one (spec-asserted
    * round-trip: d15's result is bit-identical either way). */
  def bloomSketchWrite(existingFp: DataFrame, path: String): Unit =
    bloomSketch(existingFp).coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  def bloomSketchRead(s: SparkSession, path: String): DataFrame =
    Tables.parquet(s, path)

  private[operators] def bloomProbeFrom(sketch: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery, XxHash64}
    import org.apache.spark.sql.graftshim.Shim
    val bloomPlan = Shim.logicalPlan(sketch.select(col("bf")))
    batch.withColumn("maybe", coalesce(
      Shim.column(BloomFilterMightContain(
        ScalarSubquery(bloomPlan),
        new XxHash64(Seq(Shim.expression(col("fp"))), 42L))),
      lit(false)))
  }

  /** d15's new batch probed against a Bloom filter of the existing
    * corpus's fingerprints: adds a `maybe` column (false ⇒ DEFINITELY
    * not in the existing corpus — Bloom filters have no false
    * negatives). Split out so the spec can assert the pruning
    * properties directly. */
  private[operators] def d15Probe(s: SparkSession, dir: String): DataFrame = {
    val existingFp = base(s, dir).filter(col("doc_id") < 400)
      .select(md5(col("text").cast("binary")).as("fp"))
    bloomProbe(existingFp,
      d9NewBatch(s, dir).withColumn("fp", md5(col("text").cast("binary"))))
  }

  /** d15: BLOOM-PREFILTERED incremental dedup — d9's exact semantics
    * (oracle: the same SQL) behind the plan a recurring crawl actually
    * runs at 100 TB: the stored dedup index is far too large to anti-join
    * every new batch against, so the batch is first screened MAP-SIDE
    * against a compact Bloom filter of the index. `might_contain = false`
    * rows (the overwhelming majority of a fresh crawl) are provably new
    * and skip the join entirely; only the maybe-sliver (true re-crawls +
    * the filter's ~0.1% false positives) pays the exact fp anti-join.
    * The shuffle is maybe-sliver-sized, not batch-sized.
    *
    * Engine mechanics: the filter builds DISTRIBUTED via Spark's
    * TypedImperativeAggregate Bloom sketch (partials merged by OR), is
    * embedded as a foldable binary literal, and the probe is the
    * codegen'd BloomFilterMightContain over xxhash64(fp) — the exact
    * machinery Spark's own runtime-filter injection uses, driven
    * explicitly. Spec asserts: result ≡ d9 row-for-row, zero false
    * negatives, and the maybe-sliver is a small fraction of the batch. */
  /** d15's existing-index fingerprint column (the stored dedup index). */
  private[operators] def d15ExistingFp(s: SparkSession, dir: String): DataFrame =
    base(s, dir).filter(col("doc_id") < 400)
      .select(md5(col("text").cast("binary")).as("fp"))

  private def d15Assemble(probe: DataFrame, existingFp: DataFrame): DataFrame = {
    val definitelyNew = probe.filter(!col("maybe")).select("doc_id", "fp")
    val survivors = probe.filter(col("maybe")).select("doc_id", "fp")
      .join(existingFp.distinct(), Seq("fp"), "left_anti")
    definitelyNew.unionByName(survivors)
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_copies"))
      .select("doc_id", "fp", "batch_copies")
      .orderBy("doc_id")
  }

  def d15BloomDedup(s: SparkSession, dir: String): DataFrame =
    d15Assemble(d15Probe(s, dir), d15ExistingFp(s, dir))

  /** d15 against a PERSISTED sketch artifact (written once per index
    * build by [[bloomSketchWrite]]) instead of an in-session sketch —
    * the recurring-crawl deployment shape, where the screen is amortized
    * across every batch that follows. Identical output to
    * [[d15BloomDedup]] (spec-asserted round-trip), and the maybe-sliver
    * pruning holds unchanged because the sketch row is bit-identical. */
  def d15BloomDedupFrom(s: SparkSession, dir: String, sketchPath: String): DataFrame = {
    val batch = d9NewBatch(s, dir).withColumn("fp", md5(col("text").cast("binary")))
    d15Assemble(bloomProbeFrom(bloomSketchRead(s, sketchPath), batch),
      d15ExistingFp(s, dir))
  }

  /** Oracle: identical to d9's — d15 is the same report computed the way
    * a 100 TB deployment computes it. */
  val d15Sql: String = d9Sql

  /** d14: CLUSTER-keyed train/validation split — the FIX d13's audit
    * exists to motivate: instead of splitting by document (which strands
    * the two halves of a near-dup pair on opposite sides of the split),
    * every document inherits its d12 cluster representative (min doc_id
    * of its connected component; singletons represent themselves) and
    * the content-hash split keys on the REPRESENTATIVE. All members of
    * a near-dup cluster therefore land on the same side by construction
    * and the leak count is structurally zero — the d13 audit re-run on
    * this split (same output shape: sizes, pairs, leaks) proves it.
    *
    * Plan: labels come from CC over the ACTIVITY-BOUND collision graph
    * (a sliver — only docs that collide in some LSH band); the corpus
    * flows through ONE doc_id-keyed left join to pick up its rep, and
    * the audit joins the pair sliver back twice on doc id (both
    * semi-reduce the corpus side at scale, as in d13). The split hash
    * keys on the rep ID rather than rep text so no second corpus pass
    * is needed to fetch representative content. */
  def d14ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    // the pair sliver feeds BOTH the CC loop and the audit joins — the
    // shared family artifact materializes it (and the labels) once per
    // session+corpus instead of paying the corpus-wide LSH pass twice,
    // which at 100 TB would double the operator's dominant term
    val (pairs, labels) = clusterArtifact(s, dir)
    val split = corpusNear(s, dir).select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (graft.functions.Md5PrefixModF(
          coalesce(col("label"), col("doc_id")).cast("string"), P)
          % 1000000L < TrainPpm).as("in_train"))
    val sa = split.select(col("doc_id").as("doc_a"), col("in_train").as("train_a"))
    val sb = split.select(col("doc_id").as("doc_b"), col("in_train").as("train_b"))
    val audited = pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("train_a") =!= col("train_b"), 1L).otherwise(0L)).as("n_leaks"))
    val sizes = split.agg(
      sum(when(col("in_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("in_train"), 1L).otherwise(0L)).as("n_val"))
    sizes.crossJoin(audited)
      .select(col("n_train"), col("n_val"), col("n_pairs"), col("n_leaks"))
  }

  /** Oracle: d3 pairs + recursive closure (the d12 pattern) for the rep,
    * then the d13 audit arithmetic keyed on the representative hash. */
  lazy val d14Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3PairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labels AS (SELECT u AS id, min(v) AS label FROM reach GROUP BY u),
       |split AS (
       |  SELECT c.doc_id,
       |    ('0x' || substr(md5(cast(coalesce(l.label, c.doc_id) AS varchar)), 1, 15))::bigint
       |      % $P % 1000000 < $TrainPpm AS in_train
       |  FROM ($corpusNearSql) c LEFT JOIN labels l ON c.doc_id = l.id),
       |audited AS (
       |  SELECT count(*) AS n_pairs,
       |    cast(sum(CASE WHEN a.in_train <> b.in_train THEN 1 ELSE 0 END) AS bigint) AS n_leaks
       |  FROM pairs p
       |  JOIN split a ON p.doc_a = a.doc_id
       |  JOIN split b ON p.doc_b = b.doc_id),
       |sizes AS (
       |  SELECT cast(sum(CASE WHEN in_train THEN 1 ELSE 0 END) AS bigint) AS n_train,
       |    cast(sum(CASE WHEN in_train THEN 0 ELSE 1 END) AS bigint) AS n_val
       |  FROM split)
       |SELECT n_train, n_val, n_pairs, n_leaks FROM sizes CROSS JOIN audited""".stripMargin

  /** Oracle: d3's pair CTE + recursive closure (the d7 pattern) +
    * survivor filter with the same conservation arithmetic. */
  lazy val d12Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3PairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labels AS (SELECT u AS id, min(v) AS label FROM reach GROUP BY u),
       |comp AS (SELECT label, count(*) AS n_members FROM labels GROUP BY label),
       |corpus AS ($corpusNearSql)
       |SELECT c.doc_id, cast(coalesce(cm.n_members - 1, 0) AS bigint) AS n_dups
       |FROM corpus c
       |LEFT JOIN labels l ON c.doc_id = l.id
       |LEFT JOIN comp cm ON l.label = cm.label
       |WHERE l.id IS NULL OR l.label = c.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d17

  /** Sliding-window width for d17, in tokens. */
  private[graft] val SubW = 15

  /** 30-token passage "mirrored" onto every 3rd doc (appended). */
  private[operators] val MirrorPassage: String =
    "the quick data pipeline reads every shard and writes every block " +
      "to the store while the planner prunes each partition by range " +
      "and hash before the final merge pass completes"

  /** 20-token boilerplate prefix planted on every 5th doc. */
  private[operators] val BoilerPrefix: String =
    "this content is mirrored from the central archive and may appear " +
      "in many documents across the crawl snapshot today"

  /** d17's corpus: base docs with the mirrored passage appended to every
    * 3rd doc and the boilerplate prefix on every 5th — doc 0 carries the
    * global first occurrence of both, so it alone reports zero. */
  private[graft] def corpusSub(s: SparkSession, dir: String): DataFrame =
    base(s, dir)
      .withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" " + MirrorPassage))).otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(lit(BoilerPrefix + " "), col("text"))).otherwise(col("text")))

  /** d17: exact duplicated-SUBSTRING detection at sliding-window
    * granularity (the train-data pass of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the reference's corpus-prep analogue is its document-level
    * training upload, customTrainDataController.js:38-54, which has no
    * sub-document pass at all). Every `SubW`-token sliding window is
    * fingerprinted; a window occurring anywhere else in the corpus
    * survives only at its global first occurrence (min (doc_id, pos));
    * every later occurrence marks its [pos, pos+W) token span
    * duplicated, and per document the overlapping spans are
    * interval-union'd (gaps-and-islands) into maximal duplicated
    * regions. Output: per-doc token count, duplicated-token total and
    * duplicated-region count.
    *
    * Scale: the paper's suffix array is a single-machine structure; the
    * Spark-first shape is window FINGERPRINTING — one map-side explode
    * to (h, doc_id, pos) rows where h is an 8-byte xxhash64 of the
    * window (the window text never crosses the wire), then ONE shuffle
    * keyed on h. First occurrence per window is a map-side-combined
    * min(struct) aggregate — d10's skew rationale: a corpus-hot
    * boilerplate window contributes one partial row per input
    * partition, never a global sort of its occurrences — joined back on
    * h (hash join, linear per group). The interval union windows by
    * doc_id, the highest-cardinality key available, and emits per-doc
    * stats, never the corpus. At 64 bits, fingerprint collisions at
    * 1e10 windows are ~1e3 expected — the accepted trade every
    * fingerprinting dedup (d1/d3/d10) makes. */
  def d17SubstringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedupCore(corpusSub(s, dir), SubW)

  /** d17's duplicated-span frame: one (doc_id, pos, e) row per window
    * occurrence that is NOT its fingerprint's global first occurrence.
    * Shared by the batch interval union and the streaming-twin spec.
    *
    * The first occurrence is min over (doc_id, pos) PACKED into one
    * long (doc_id << 24 | pos): a struct min falls back to
    * SortAggregate — a map-side sort of every window occurrence — while
    * the packed long min hash-aggregates with map-side combine.
    * Lexicographic ≡ packed order while pos < 2^24 (a 16M-token doc)
    * and doc_id < 2^39; both are deployment-checkable bounds. */
  private[graft] def substringDupSpans(corpus: DataFrame, w: Int): DataFrame = {
    // codegen'd rolling hash: O(1) per window, not O(w) slice-and-hash —
    // a doc shorter than w tokens yields an empty array and drops out of
    // the explode on its own (it re-enters via the final left join)
    val wins = corpus.select(col("doc_id"),
      posexplode(graft.functions.TokenWindows.hashes(col("text"), w)))
      .toDF("doc_id", "pos", "h")
      .select(col("doc_id"), col("pos"),
        (shiftleft(col("doc_id"), 24) bitwiseOR col("pos")).as("packed"), col("h"))
    val firsts = wins.groupBy("h").agg(min(col("packed")).as("first"))
    wins.join(firsts, "h")
      .filter(col("packed") =!= col("first"))
      .select(col("doc_id"), col("pos"), (col("pos") + w).as("e"))
  }

  /** Core of d17 over an arbitrary (doc_id, text) corpus; `w` = window
    * width in tokens. Exposed for fixture tests of the interval union. */
  private[graft] def substringDedupCore(corpus: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dups = substringDupSpans(corpus, w)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dups
      .withColumn("prev_max",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
        when(col("prev_max").isNull || col("pos") > col("prev_max"), 1)
          .otherwise(0)).over(byDoc))
    val perDoc = islands.groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("e").as("e"))
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s")).as("dup_tokens"),
        count(lit(1)).as("dup_spans"))
    corpus.select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
      .orderBy("doc_id")
  }

  /** Oracle: same derivation with the window STRING as the dedup key
    * (equivalent to the engine's 64-bit fingerprint absent collisions,
    * which are negligible at oracle scale) — row_number first-occurrence
    * + the classic gaps-and-islands interval union. */
  /** The c1→wins CTE prefix (planted corpus + window strings) — shared
    * by d17's and t28's oracles. */
  private def subWindowCtesSql: String =
    s"""c1 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || ' $MirrorPassage' ELSE text END AS text
       |  FROM documents),
       |c2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$BoilerPrefix ' || text ELSE text END AS text
       |  FROM c1),
       |toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
       |    len(string_split_regex(text, '\\s+')) AS n_tokens
       |  FROM c2),
       |wins AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+${SubW - 1}], ' ') AS w
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, n_tokens - ${SubW - 1})) AS i) u
       |  WHERE n_tokens >= $SubW)""".stripMargin

  lazy val d17Sql: String =
    s"""WITH $subWindowCtesSql,
       |dups AS (
       |  SELECT doc_id, pos, pos + $SubW AS e
       |  FROM (SELECT doc_id, pos,
       |          row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
       |        FROM wins)
       |  WHERE rn > 1),
       |grp AS (
       |  SELECT doc_id, pos, e,
       |    sum(CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos, e,
       |          max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |        FROM dups)),
       |merged AS (
       |  SELECT doc_id, island, max(e) - min(pos) AS span_toks
       |  FROM grp GROUP BY doc_id, island),
       |perdoc AS (
       |  SELECT doc_id, cast(sum(span_toks) AS bigint) AS dup_tokens,
       |    cast(count(*) AS bigint) AS dup_spans
       |  FROM merged GROUP BY doc_id)
       |SELECT t.doc_id, t.n_tokens, coalesce(p.dup_tokens, 0) AS dup_tokens,
       |  coalesce(p.dup_spans, 0) AS dup_spans
       |FROM toks t LEFT JOIN perdoc p USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Rows in the d20 report. */
  private[graft] val DupPassagesK = 20

  /** d20: the MOST-DUPLICATED PASSAGES report — the actionable artifact
    * Lee et al. (arXiv:2107.06499 §4) tabulate alongside d17's per-doc
    * intervals: which concrete `SubW`-token passages repeat most, how
    * often, across how many documents, with a canonical example span.
    * This is what a pipeline operator actually reads to decide whether
    * the duplication is boilerplate (strip it) or contamination (drop
    * docs).
    *
    * Plan: ONE extra group-count-bound aggregate over d17's existing
    * fingerprint shuffle (count / distinct-doc / packed-min first
    * occurrence per window hash), global top-K via
    * TakeOrderedAndProject, and the passage text attaches by joining
    * the K-row sliver BROADCAST back to the corpus — the corpus is
    * never re-shuffled and no window strings exist outside the final K
    * rows. */
  def d20DupPassages(s: SparkSession, dir: String): DataFrame = {
    val corpus = corpusSub(s, dir)
    val wins = corpus.select(col("doc_id"),
        posexplode(graft.functions.TokenWindows.hashes(col("text"), SubW)))
      .toDF("doc_id", "pos", "h")
      .select(col("h"), col("doc_id"),
        (shiftleft(col("doc_id"), 24) bitwiseOR col("pos")).as("packed"))
    val top = wins.groupBy("h")
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("doc_id")).as("n_docs"),
           min(col("packed")).as("first"))
      .filter(col("n_occurrences") >= 2)
      .orderBy(col("n_occurrences").desc, col("first").asc)
      .limit(DupPassagesK)
      .select(shiftrightunsigned(col("first"), 24).as("example_doc_id"),
        (col("first") bitwiseAND lit((1L << 24) - 1)).as("example_pos"),
        col("n_occurrences"), col("n_docs"))
    corpus.join(broadcast(top), col("doc_id") === col("example_doc_id"))
      .select(col("example_doc_id"), col("example_pos"),
        col("n_occurrences"), col("n_docs"),
        concat_ws(" ", slice(split(col("text"), "\\s+"),
          (col("example_pos") + 1).cast("int"), lit(SubW))).as("passage"))
      .orderBy(col("n_occurrences").desc, col("example_doc_id"), col("example_pos"))
  }

  /** Oracle: the same derivation keyed on the window STRING (the d17
    * fingerprint trade), with the packed first-occurrence reproduced
    * arithmetically. */
  lazy val d20Sql: String =
    s"""WITH c1 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || ' $MirrorPassage' ELSE text END AS text
       |  FROM documents),
       |c2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$BoilerPrefix ' || text ELSE text END AS text
       |  FROM c1),
       |toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t,
       |    len(string_split_regex(text, '\\s+')) AS n_tokens
       |  FROM c2),
       |wins AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+${SubW - 1}], ' ') AS w
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, n_tokens - ${SubW - 1})) AS i) u
       |  WHERE n_tokens >= $SubW),
       |top AS (
       |  SELECT w, cast(count(*) AS bigint) AS n_occurrences,
       |    cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
       |    min(doc_id * 16777216 + pos) AS first
       |  FROM wins GROUP BY w HAVING count(*) >= 2
       |  ORDER BY n_occurrences DESC, first LIMIT $DupPassagesK)
       |SELECT cast(first // 16777216 AS bigint) AS example_doc_id,
       |  cast(first % 16777216 AS bigint) AS example_pos,
       |  n_occurrences, n_docs,
       |  array_to_string(t[(first % 16777216) + 1 : (first % 16777216) + $SubW], ' ') AS passage
       |FROM top JOIN toks ON toks.doc_id = first // 16777216
       |ORDER BY n_occurrences DESC, example_doc_id, example_pos""".stripMargin

  // ---------------------------------------------------------------- d18

  /** Packing base for d18's argmax: reps are chosen by max over
    * `n_chars * 2^32 + (2^32-1 - doc_id)`, one hash-aggregable BIGINT
    * (the d17 packed-min rationale: a struct max plans a SortAggregate;
    * the packed max map-side combines). Requires doc_id < 2^32 and
    * n_chars < 2^21 — both hold at every SF by construction. */
  private val RepPack = 4294967296L

  /** d18: cluster-REPRESENTATIVE selection policy — which member of a
    * near-dup cluster survives. d12 keeps the first occurrence (min id,
    * the FineWeb default); d18 keeps the INFORMATION-RICHEST member —
    * the longest text, ties broken toward the smaller id — the
    * alternative policy dedup writeups argue for when near-dups differ
    * by truncation (the planted corpus makes the semantics visible: the
    * tail-appended variant of every planted pair is strictly longer, so
    * d18 must flip every planted cluster's survivor from d12's choice).
    *
    * Plan: cluster labels come from the family's shared
    * [[clusterArtifact]] sliver; the corpus-sized work is ONE
    * doc_id-keyed left join of (doc_id, n_chars) against that sliver,
    * after which singletons pass through map-side and labeled docs fold
    * into a label-keyed hash aggregate of the packed argmax (sliver-
    * bound). Conservation (spec-asserted): sum(n_members) = |corpus|. */
  def d18ClusterRep(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterArtifact(s, dir)._2
    val c = corpusNear(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val joined = c.join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
    val singles = joined.filter(col("label").isNull)
      .select(col("doc_id"), lit(1L).as("n_members"), col("n_chars").as("rep_chars"))
    val reps = joined.filter(col("label").isNotNull)
      .select(col("label"),
        (col("n_chars") * RepPack + (lit(RepPack - 1) - col("doc_id"))).as("pack"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_members"), max(col("pack")).as("mx"))
      .select((lit(RepPack - 1) - col("mx") % RepPack).as("doc_id"),
        col("n_members"),
        expr(s"mx div ${RepPack}L").as("rep_chars"))
    singles.unionByName(reps).orderBy("doc_id")
  }

  /** Oracle: the d12 recursive-closure labels + the same packed argmax. */
  lazy val d18Sql: String =
    s"""WITH RECURSIVE pairs AS ($d3PairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
       |labels AS (SELECT u AS id, min(v) AS label FROM reach GROUP BY u),
       |corpus AS (
       |  SELECT doc_id, cast(length(text) AS bigint) AS n_chars
       |  FROM ($corpusNearSql)),
       |joined AS (
       |  SELECT c.doc_id, c.n_chars, l.label
       |  FROM corpus c LEFT JOIN labels l ON c.doc_id = l.id),
       |reps AS (
       |  SELECT
       |    $RepPack - 1 - (max(n_chars * $RepPack + ($RepPack - 1 - doc_id)) % $RepPack) AS doc_id,
       |    cast(count(*) AS bigint) AS n_members,
       |    cast(max(n_chars * $RepPack + ($RepPack - 1 - doc_id)) // $RepPack AS bigint) AS rep_chars
       |  FROM joined WHERE label IS NOT NULL GROUP BY label)
       |SELECT doc_id, cast(1 AS bigint) AS n_members, n_chars AS rep_chars
       |FROM joined WHERE label IS NULL
       |UNION ALL
       |SELECT doc_id, n_members, rep_chars FROM reps
       |ORDER BY doc_id""".stripMargin

  // ---- d21: containment (quote / wholesale-reuse) detection ----

  /** Containment threshold θ = 4/5, kept RATIONAL so the keep test is
    * the exact integer compare `inter·5 ≥ size·4` in both engines. */
  val ContainThetaNum = 4
  val ContainThetaDen = 5
  /** Inverted-index df cap: only shingles appearing in ≤ this many docs
    * index the container side (hot-shingle flood control). */
  val ContainDfCap = 64L

  /** d21's corpus: the d3 near-dup corpus PLUS a 16-word "quote"
    * extract of every 13th doc (id+300000) — contained in its original
    * with containment 1 but Jaccard ≈ 0.25, the pair class a
    * Jaccard-tuned LSH screen structurally misses. */
  private def d21Corpus(s: SparkSession, dir: String): DataFrame =
    corpusNear(s, dir).unionByName(
      base(s, dir).filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 16)).as("text")))

  private val d21CorpusSql: String =
    s"""$corpusNearSql
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id,
       |   array_to_string((string_split_regex(trim(text), '\\s+'))[1:16], ' ') AS text
       |  FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Distinct word-bigram shingle set per doc (d3's shingle universe,
    * kept as strings because containment compares SETS, not sketches). */
  private def shingleSets(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(t) - 2), i -> concat_ws(' ', t[i], t[i+1])))"))
        .as("sh"))

  /** d21: directional containment pairs — for every (contained,
    * container) pair with |S_a ∩ S_b| / |S_a| ≥ 4/5, the intersection
    * count, |S_a|, and containment in exact ppm. The asymmetric twin of
    * d2/d3's Jaccard: a short document quoted wholesale inside a long
    * one has containment 1 but arbitrarily low Jaccard, so MinHash-LSH
    * (tuned to Jaccard) structurally misses it.
    *
    * Candidate screen = PREFIX FILTERING (Chaudhuri ICDE'06 /
    * PPJoin, the asymmetric variant): order the vocabulary rarest-first
    * (df asc, shingle asc) and take each doc's first
    * `sz − ⌈θ·sz⌉ + 1` shingles in that order — if a pair meets θ with
    * contained side a, a's prefix MUST intersect S_b (fewer than
    * prefix-many of a's shingles lie outside S_b), so joining prefixes
    * against a df-capped inverted index of full sets loses only pairs
    * whose every prefix∩S_b witness is a hotter-than-cap shingle
    * (none on this corpus: the brute-force equality is spec-asserted;
    * at web scale rarest-first prefixes hit the Zipf tail where
    * df ≤ cap by construction). Verification is EXACT — intersection
    * counts via one (pair, shingle) join, the θ test as integer
    * cross-multiplication, ppm as one floored division both engines
    * compute identically.
    *
    * Scale: the shingle frame is distinct-(doc,bigram)-bound; df and
    * size rollups are vocabulary/doc-bound; each doc emits ~(1−θ)·sz+1
    * prefix keys; index buckets are df-capped; the verify join is
    * candidate-bound. The per-doc rank window partitions by
    * high-cardinality doc_id. Nothing is all-pairs. */
  def d21Containment(s: SparkSession, dir: String): DataFrame =
    d21ContainmentFrame(d21Corpus(s, dir))

  /** Corpus-parameterized body of [[d21Containment]] (spec fixtures). */
  private[graft] def d21ContainmentFrame(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleSets(corpus).localCheckpoint()
    val dfc = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val prefix = sh.join(dfc, Seq("sh"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("sh").asc)))
      .join(sz, Seq("doc_id"))
      .filter(col("rk") <=
        expr(s"sz - (($ContainThetaNum * sz + ${ContainThetaDen - 1}) div $ContainThetaDen) + 1"))
    val index = sh.join(dfc.filter(col("df") <= ContainDfCap), Seq("sh"))
    val cands = prefix.select(col("doc_id").as("a"), col("sh"))
      .join(index.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = cands
      .join(sh.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter.join(sz.select(col("doc_id").as("a"), col("sz")), Seq("a"))
      .filter(col("inter") * ContainThetaDen >= col("sz") * ContainThetaNum)
      .select(col("a").as("contained"), col("b").as("container"),
        col("inter"), col("sz").as("n_shingles"),
        floor(lit(1e6) * col("inter") / col("sz")).cast("long").as("cont_ppm"))
      .orderBy("contained", "container")
  }

  // ---- t28: per-document novelty (inverse memorization) ----

  /** t28: per-document NOVELTY — the fraction of a doc's SubW-token
    * sliding windows whose fingerprint appears in NO other document
    * (the inverse of the cross-doc memorization mass Lee et al.
    * arXiv:2107.06499 measure; as a selection signal it ranks documents
    * by how much genuinely new text they contribute, where d17 reports
    * WHERE the duplicated spans sit). Within-doc repetition does not
    * reduce novelty — only cross-document sharing does.
    *
    * Shape: d17's corpus and rolling `token_window_hashes` expression,
    * ONE (doc, fingerprint) map-combined count (the same exchange class
    * as d17's), a fingerprint-bound distinct-doc rollup joined back on
    * the (doc, fingerprint) frame, and a doc-keyed final agg — nothing
    * corpus-text-sized shuffles, and the ppm is one floored division
    * both engines compute identically. */
  def t28Novelty(s: SparkSession, dir: String): DataFrame = {
    val wins = corpusSub(s, dir).select(col("doc_id"),
      explode(graft.functions.TokenWindows.hashes(col("text"), SubW)).as("h"))
    val pdh = wins.groupBy("doc_id", "h").agg(count(lit(1)).as("cnt"))
    val hd = pdh.groupBy("h").agg(count(lit(1)).as("ndocs"))
    pdh.join(hd, Seq("h"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_windows"),
        sum(when(col("ndocs") === 1, col("cnt")).otherwise(0L)).as("novel_windows"))
      .withColumn("novelty_ppm",
        floor(lit(1e6) * col("novel_windows") / col("n_windows")).cast("long"))
      .orderBy("doc_id")
  }

  lazy val t28Sql: String =
    s"""WITH $subWindowCtesSql,
       |pdh AS (SELECT doc_id, w, count(*) AS cnt FROM wins GROUP BY doc_id, w),
       |hd AS (SELECT w, count(*) AS ndocs FROM pdh GROUP BY w)
       |SELECT doc_id,
       | cast(sum(cnt) AS bigint) AS n_windows,
       | cast(sum(CASE WHEN ndocs = 1 THEN cnt ELSE 0 END) AS bigint) AS novel_windows,
       | cast(floor(1e6 * sum(CASE WHEN ndocs = 1 THEN cnt ELSE 0 END) / sum(cnt)) AS bigint) AS novelty_ppm
       |FROM pdh JOIN hd USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  lazy val d21Sql: String =
    s"""WITH corpus AS ($d21CorpusSql),
       |shs AS (
       | SELECT DISTINCT doc_id, s AS sh
       | FROM (SELECT doc_id,
       |   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS s
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
       |  WHERE len(t) >= 2)),
       |dfc AS (SELECT sh, count(*) AS df FROM shs GROUP BY sh),
       |szs AS (SELECT doc_id, count(*) AS sz FROM shs GROUP BY doc_id),
       |pfx AS (
       | SELECT doc_id, sh FROM (
       |  SELECT shs.doc_id, shs.sh, sz,
       |   row_number() OVER (PARTITION BY shs.doc_id ORDER BY df ASC, shs.sh ASC) AS rk
       |  FROM shs JOIN dfc USING (sh) JOIN szs USING (doc_id))
       | WHERE rk <= sz - (($ContainThetaNum * sz + ${ContainThetaDen - 1}) // $ContainThetaDen) + 1),
       |idx AS (
       | SELECT shs.doc_id, shs.sh FROM shs JOIN dfc USING (sh) WHERE df <= $ContainDfCap),
       |cand AS (
       | SELECT DISTINCT p.doc_id AS a, x.doc_id AS b
       | FROM pfx p JOIN idx x ON p.sh = x.sh AND p.doc_id <> x.doc_id),
       |itc AS (
       | SELECT c.a, c.b, count(*) AS inter
       | FROM cand c
       | JOIN shs sa ON sa.doc_id = c.a
       | JOIN shs sb ON sb.doc_id = c.b AND sb.sh = sa.sh
       | GROUP BY c.a, c.b)
       |SELECT a AS contained, b AS container, inter, sz AS n_shingles,
       | cast(floor(1e6 * inter / sz) AS bigint) AS cont_ppm
       |FROM itc JOIN szs ON szs.doc_id = itc.a
       |WHERE inter * $ContainThetaDen >= sz * $ContainThetaNum
       |ORDER BY contained, container""".stripMargin

  // ---- d24: incremental FUZZY dedup against a persisted band-key index ----

  /** Ids below this are the already-ingested corpus; the new batch is
    * everything else (the d9 split convention). */
  private[operators] val D24Split = 400L

  /** Verify threshold for the incremental screen — word-bigram Jaccard
    * of a candidate (new, existing) pair. Planted near-recrawls score
    * ≥0.6; the corpus also carries NATURAL one-word-edit near-dups
    * (j ≈ 0.97) which the screen correctly flags — the spec re-verifies
    * every reported match driver-side. */
  private[operators] val D24Tau = 0.5

  private[graft] def d24Existing(s: SparkSession, dir: String): DataFrame =
    base(s, dir).filter(col("doc_id") < D24Split)

  /** The incoming crawl: genuinely new docs ∪ planted NEAR-recrawls
    * (tail-perturbed — the case exact d9 misses) of every 10th existing
    * doc ∪ planted EXACT recrawls of every 15th (the fuzzy screen must
    * catch those too, Jaccard 1.0). */
  private[graft] def d24NewBatch(s: SparkSession, dir: String): DataFrame = {
    val d = base(s, dir)
    d.filter(col("doc_id") >= D24Split)
      .unionByName(d.filter(col("doc_id") < D24Split && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(NearTail)).as("text")))
      .unionByName(d.filter(col("doc_id") < D24Split && col("doc_id") % 15 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
  }

  /** The screen core, parameterized on the index so the persisted-store
    * twin ([[d24ScreenFrom]]) runs the identical flow off parquet.
    * Candidates come from a (band, key) join of the batch's 4 keys/doc
    * against the stored keys — batch-sized, never existing-corpus-
    * sized; verification attaches text only to the candidate sliver
    * (broadcast build sides, the t18 audit-join shape). */
  private def d24Screen(newBatch: DataFrame, indexKeys: DataFrame,
      indexTexts: DataFrame): DataFrame = {
    import graft.functions.WordBigramJaccard
    val newKeys = bandKeys(newBatch)
      .select(col("doc_id").as("new_id"), col("band"), col("key"))
    val cand = newKeys
      .join(indexKeys.select(col("doc_id").as("base_id"), col("band"), col("key")),
        Seq("band", "key"))
      .select("new_id", "base_id").distinct()
    val tn = newBatch.select(col("doc_id").as("new_id"), col("text").as("text_n"))
    val tb = indexTexts.select(col("doc_id").as("base_id"), col("text").as("text_b"))
    val scored = tb.join(broadcast(tn.join(broadcast(cand), Seq("new_id"))), Seq("base_id"))
      .withColumn("matched", WordBigramJaccard(col("text_n"), col("text_b")) >= D24Tau)
    val agg = scored.groupBy("new_id").agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("matched"), 1L).otherwise(0L)).as("n_match"),
      min(when(col("matched"), col("base_id"))).as("match_id"))
    newBatch.select(col("doc_id"))
      .join(agg, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        col("match_id"),
        when(coalesce(col("n_match"), lit(0L)) === 0, 1L).otherwise(0L).as("is_novel"))
      .orderBy("doc_id")
  }

  /** d24: incremental FUZZY dedup — the cross-crawl twin of d9 at the
    * near-duplicate level, and the operator a recurring-crawl pipeline
    * actually runs between full d12 passes (the FineWeb "dedup each
    * crawl against the index" step): screen an incoming batch against
    * the ALREADY-INGESTED corpus's persisted MinHash band-key index,
    * verify band collisions with exact word-bigram Jaccard
    * ([[graft.functions.WordBigramJaccard]]), and emit the per-doc
    * ingest verdict — candidate count, verified match count, the
    * lowest matching existing doc, and the novelty bit the ingest
    * gate keys on. Reference analogue: upserting new trained data into
    * the persistent vector store rather than rebuilding it
    * (customTrainDataController.js:56-62 loads the stored index and
    * adds to it).
    *
    * Scale: the 100 TB existing corpus contributes 4 band keys per doc
    * — the index IS the artifact ([[d24IndexWrite]] persists it;
    * appending a promoted batch is a parquet append) — so the screen's
    * shuffles are (batch × 4 keys) join-probes against a bucketed key
    * store plus a candidate-sliver verify; nothing existing-corpus-
    * sized moves. Recall is banding recall (d19's curve governs);
    * the verify stage makes precision exact. */
  def d24FuzzyIncremental(s: SparkSession, dir: String): DataFrame = {
    val ex = d24Existing(s, dir)
    d24Screen(d24NewBatch(s, dir), bandKeys(ex), ex)
  }

  /** Persist the incremental-dedup index: the existing corpus's band
    * keys plus the (doc_id, text) verify side. In a deployment the
    * verify side would carry bigram-set fingerprints rather than raw
    * text; text is what the local oracle can check. */
  def d24IndexWrite(s: SparkSession, dir: String, path: String): Unit = {
    val ex = d24Existing(s, dir)
    bandKeys(ex).write.mode("overwrite").parquet(path + "/bands")
    ex.write.mode("overwrite").parquet(path + "/texts")
  }

  /** The deployment twin: screen the new batch against the index as
    * persisted by [[d24IndexWrite]] — spec-asserted identical to the
    * one-shot [[d24FuzzyIncremental]]. */
  def d24ScreenFrom(s: SparkSession, dir: String, path: String): DataFrame =
    d24Screen(d24NewBatch(s, dir),
      Tables.parquet(s, path + "/bands"), Tables.parquet(s, path + "/texts"))

  private val d24CorpusSql =
    s"""SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id, text || '$NearTail' AS text
       |  FROM documents WHERE doc_id < $D24Split AND doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id, text FROM documents
       |  WHERE doc_id < $D24Split AND doc_id % 15 = 0""".stripMargin

  /** Oracle: the family's md5 MinHash pairs over the union corpus,
    * restricted to cross-side (existing ids < split < new ids, so
    * doc_a is always the existing side), exact-Jaccard-verified, then
    * left-joined onto the full batch roster. */
  lazy val d24Sql: String =
    s"""WITH pairs AS (${lshPairsSqlFor(d24CorpusSql)}),
       |newb AS (
       |  SELECT doc_id FROM documents WHERE doc_id >= $D24Split
       |  UNION ALL
       |  SELECT doc_id + 100000 AS doc_id FROM documents
       |  WHERE doc_id < $D24Split AND doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 300000 AS doc_id FROM documents
       |  WHERE doc_id < $D24Split AND doc_id % 15 = 0),
       |bg AS (
       | SELECT doc_id,
       |  list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bg
       | FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM ($d24CorpusSql))
       | WHERE len(t) >= 2),
       |scored AS (
       | SELECT p.doc_b AS new_id, p.doc_a AS base_id,
       |  cast(len(list_intersect(a.bg, b.bg)) AS double)
       |    / len(list_distinct(list_concat(a.bg, b.bg))) AS j
       | FROM pairs p JOIN bg a ON p.doc_a = a.doc_id JOIN bg b ON p.doc_b = b.doc_id
       | WHERE p.doc_a < $D24Split AND p.doc_b >= $D24Split),
       |agg AS (
       | SELECT new_id, count(*) AS n_cand,
       |  sum(CASE WHEN j >= $D24Tau THEN 1 ELSE 0 END) AS n_match,
       |  min(CASE WHEN j >= $D24Tau THEN base_id END) AS match_id
       | FROM scored GROUP BY new_id)
       |SELECT n.doc_id,
       | cast(coalesce(a.n_cand, 0) AS bigint) AS n_cand,
       | cast(coalesce(a.n_match, 0) AS bigint) AS n_match,
       | a.match_id,
       | cast(CASE WHEN coalesce(a.n_match, 0) = 0 THEN 1 ELSE 0 END AS bigint) AS is_novel
       |FROM newb n LEFT JOIN agg a ON n.doc_id = a.new_id
       |ORDER BY n.doc_id""".stripMargin

  // ---- d26: URL-canonicalization dedup (crawl step zero) ----

  /** d26: URL-CANONICALIZATION dedup — the step-zero dedup every crawl
    * pipeline runs BEFORE fetching content (CommonCrawl's URL dedup;
    * trailing slashes, default ports, tracking params, and cased
    * scheme/host multiply the frontier by small integer factors, and
    * canonicalizing them is pure string algebra — no content needed).
    * The fixture plants four variant classes per canonical target
    * (bare, trailing slash, UPPERCASED scheme+host with :443, and
    * utm-tracking query), derived deterministically from doc_id — the
    * t31 planted-fixture discipline — then the operator canonicalizes
    * and reports the frontier compression as ONE summary row: urls,
    * distinct canonicals, dup groups, redundant fetches avoided, and a
    * modular checksum of the first-wins survivors (the q42 receipt).
    *
    * Canonicalization rules (group-free regexps — Spark's `$1` and
    * DuckDB's `\\1` replacement syntaxes differ, so no backrefs):
    * strip utm_* params, strip a dangling `?`, drop default ports
    * (:443/:80), drop the trailing slash, lowercase scheme+authority
    * ONLY (paths stay case-sensitive).
    *
    * Scale: wholly map work (one regexp chain per row) into one
    * map-combined canonical-key aggregate and a one-row rollup —
    * the d1 exchange class on ~60-byte keys. */
  def d26UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val url = {
      val host = concat(lit("h"), expr("(doc_id DIV 4) % 50"))
      val base = concat(lit("https://"), host,
        lit(".example.com/a/"), expr("doc_id DIV 4"))
      when(col("doc_id") % 4 === 1, concat(base, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("HTTPS://"), upper(host),
            lit(".EXAMPLE.COM:443/a/"), expr("doc_id DIV 4")))
        .when(col("doc_id") % 4 === 3,
          concat(base, lit("?utm_source=feed&utm_campaign=x")))
        .otherwise(base)
    }
    val d = Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
    val canon = canonicalUrl(col("url"))
    d.select(col("doc_id"), canon.as("canon"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("first_doc"))
      .agg(count(lit(1)).as("n_canonical"),
        sum(col("n_variants")).as("n_urls"),
        sum(when(col("n_variants") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(col("n_variants") - 1).as("n_redundant"),
        (sum(col("first_doc") % P) % P).as("survivor_checksum"))
      .select("n_urls", "n_canonical", "n_dup_groups", "n_redundant",
        "survivor_checksum")
  }

  /** The canonicalization chain — public so ingest pipelines reuse it. */
  def canonicalUrl(u: Column): Column = {
    val noUtm = regexp_replace(u, "[?&]utm_[a-z_]+=[^&#]*", "")
    val noDangle = regexp_replace(noUtm, "[?&]$", "")
    val noPort = regexp_replace(
      regexp_replace(noDangle, ":(443|80)/", "/"), ":(443|80)$", "")
    val noSlash = regexp_replace(noPort, "/$", "")
    val head = regexp_extract(noSlash, "^[A-Za-z]+://[^/]*", 0)
    val rest = regexp_replace(noSlash, "^[A-Za-z]+://[^/]*", "")
    concat(lower(head), rest)
  }

  val d26Sql: String =
    """WITH u AS (
      | SELECT doc_id,
      |  CASE doc_id % 4
      |   WHEN 1 THEN 'https://h' || ((doc_id // 4) % 50) || '.example.com/a/' || (doc_id // 4) || '/'
      |   WHEN 2 THEN 'HTTPS://H' || ((doc_id // 4) % 50) || '.EXAMPLE.COM:443/a/' || (doc_id // 4)
      |   WHEN 3 THEN 'https://h' || ((doc_id // 4) % 50) || '.example.com/a/' || (doc_id // 4) || '?utm_source=feed&utm_campaign=x'
      |   ELSE 'https://h' || ((doc_id // 4) % 50) || '.example.com/a/' || (doc_id // 4)
      |  END AS url
      | FROM documents),
      |c AS (
      | SELECT doc_id,
      |  lower(regexp_extract(s4, '^[A-Za-z]+://[^/]*', 0)) ||
      |   regexp_replace(s4, '^[A-Za-z]+://[^/]*', '') AS canon
      | FROM (
      |  SELECT doc_id,
      |   regexp_replace(
      |    regexp_replace(
      |     regexp_replace(
      |      regexp_replace(
      |       regexp_replace(url, '[?&]utm_[a-z_]+=[^&#]*', '', 'g'),
      |      '[?&]$', ''),
      |     ':(443|80)/', '/'),
      |    ':(443|80)$', ''),
      |   '/$', '') AS s4
      |  FROM u)),
      |g AS (
      | SELECT canon, count(*) AS n_variants, min(doc_id) AS first_doc
      | FROM c GROUP BY canon)
      |SELECT cast(sum(n_variants) AS bigint) AS n_urls,
      | count(*) AS n_canonical,
      | cast(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_groups,
      | cast(sum(n_variants - 1) AS bigint) AS n_redundant,
      | cast(sum(first_doc % 1000000007) % 1000000007 AS bigint) AS survivor_checksum
      |FROM g""".stripMargin

  // ---------------------------------------------------------------- d27

  /** d27: EDIT-DISTANCE-verified near-dup pairs — the character-level
    * verify the Jaccard family cannot give. MinHash-LSH band collisions
    * (d3's candidate sliver) are confirmed with exact Levenshtein
    * distance; a pair survives when the edit distance is at most 10% of
    * the longer text (integer cross-multiplication — no float ratio).
    * This is the verify a plagiarism/near-recrawl audit runs when it
    * needs "how many CHARACTER edits", not "how similar the shingle
    * sets": a one-word substitution and a scattered 30-typo rewrite can
    * carry the same Jaccard yet land on opposite sides of this gate.
    *
    * Scale: Levenshtein is O(|a|·|b|) PER PAIR — the quadratic lives
    * inside a row, so the defenses that matter are (1) never evaluating
    * it on corpus² rows (candidates come from the banded LSH screen, a
    * collision sliver) and (2) never evaluating it twice for the same
    * TEXT pair: the registered form is exact-collapse-first, so DP cost
    * is quadratic in DISTINCT colliding content and invariant to
    * duplicate multiplicity — the axis a recurring crawl actually grows
    * (measured: 53.6 s naive → ~1 s collapsed at sf1's 10× replicas,
    * output bit-equal, spec-asserted). Both engines compute the same
    * unit-cost character-level DP, so distances (and the ppm
    * similarity) are driver-gated exact. */
  def d27EditDedup(s: SparkSession, dir: String): DataFrame = {
    // EXACT-COLLAPSE-FIRST (the d2/d5/s3 discipline, and here it is the
    // whole game: the DP is O(|a|·|b|) per pair, and a recurring crawl's
    // replica groups explode the candidate PAIR count quadratically in
    // multiplicity — measured 53.6 s at sf1's 10× replicas for the naive
    // per-doc-pair form vs ~1 s collapsed). Distance depends only on the
    // two TEXTS, so: score each DISTINCT (fp_a, fp_b) text pair once,
    // join verdicts back to the id pairs, and emit same-fp pairs at
    // dist=0 with no DP at all.
    // the fingerprinted corpus feeds three consumers (two metadata
    // joins + the rep-text pick) — checkpoint it once; measured better
    // than either re-scanning per consumer or checkpointing only the
    // narrow frame (the md5 pass dominates, not the text bytes)
    val c = corpusNear(s, dir)
      .select(col("doc_id"), col("text"), md5(col("text")).as("fp"),
        length(col("text")).cast("long").as("len"))
      .localCheckpoint()
    val meta = c.select("doc_id", "fp", "len")
    // candidates ride the memoized per-(session, corpus) collision
    // artifact — a pipeline running the d-family pays the LSH term once
    val pairs = clusterArtifact(s, dir)._1
      .join(meta.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"),
        col("len").as("len_a")), Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"),
        col("len").as("len_b")), Seq("doc_b"))
      .localCheckpoint()
    val distinctPairs = pairs.filter(col("fp_a") =!= col("fp_b"))
      .select("fp_a", "fp_b").distinct()
    val fps = distinctPairs.select(col("fp_a").as("fp"))
      .unionByName(distinctPairs.select(col("fp_b").as("fp"))).distinct()
    // one representative text per fingerprint in any scored pair (texts
    // with equal md5 are equal, so min() is just a deterministic pick)
    val reps = c.join(fps, Seq("fp"), "left_semi")
      .groupBy("fp").agg(min(col("text")).as("rtext"))
    // THRESHOLD-BOUNDED DP (Ukkonen banding via levenshtein's threshold
    // arg): the 10% gate downstream means any distance above
    // floor(len_max/10) is discarded unread, so the DP only needs the
    // band — O(len × len/10) per pair instead of O(len²), and the gate
    // is decided inside the same expression (-1 = above threshold).
    // Equivalence: survivors are exactly {dist ≤ floor(len_max/10)} =
    // {dist*10 ≤ len_max} (integer dist), with exact dist values —
    // the identical set the unbounded DP + filter kept (rep text
    // lengths ARE the pair lengths: equal md5 ⇒ equal text). The
    // sliver is CHECKPOINTED so the DP runs once: left lazy, the
    // join-back re-derived the whole scoring subtree per consumer
    // (measured 1.9 s scored vs 4.7 s tail — the DP ran ~2.5×).
    val scored = distinctPairs
      .join(reps.select(col("fp").as("fp_a"), col("rtext").as("ta")), Seq("fp_a"))
      .join(reps.select(col("fp").as("fp_b"), col("rtext").as("tb")), Seq("fp_b"))
      .select(col("fp_a"), col("fp_b"),
        expr("levenshtein(ta, tb, cast(greatest(length(ta), length(tb)) DIV 10 as int))")
          .cast("long").as("dist"))
      .filter(col("dist") >= 0L)
      .localCheckpoint()
    val diff = pairs.filter(col("fp_a") =!= col("fp_b"))
      .join(scored, Seq("fp_a", "fp_b"))
    val same = pairs.filter(col("fp_a") === col("fp_b"))
      .withColumn("dist", lit(0L))
    same.select(col("doc_a"), col("doc_b"), col("dist"),
        col("len_a"), col("len_b"))
      .unionByName(diff.select(col("doc_a"), col("doc_b"), col("dist"),
        col("len_a"), col("len_b")))
      .withColumn("len_max", greatest(col("len_a"), col("len_b")))
      .filter(col("dist") * 10 <= col("len_max"))
      .select(col("doc_a"), col("doc_b"), col("dist"), col("len_max"),
        expr("((len_max - dist) * 1000000) DIV len_max").as("sim_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** The per-doc-pair form — O(DP) per candidate pair, quadratic in
    * duplicate multiplicity; retained as the spec's equality reference
    * for the collapsed default. */
  private[operators] def d27EditDedupNaive(s: SparkSession, dir: String): DataFrame = {
    val pairs = d3Pairs(s, dir)
    val c = corpusNear(s, dir)
    val ta = c.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = c.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    pairs.join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .withColumn("len_max",
        greatest(length(col("text_a")), length(col("text_b"))).cast("long"))
      .filter(col("dist") * 10 <= col("len_max"))
      .select(col("doc_a"), col("doc_b"), col("dist"), col("len_max"),
        expr("((len_max - dist) * 1000000) DIV len_max").as("sim_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- d28

  /** d28 boundary window (tokens), divisor (avg chunk ≈ CdcMod tokens). */
  val CdcWindow = 3
  val CdcMod = 16L

  /** d28 chunk-identity modulus: 2^60 = the full range of the 15-hex-digit
    * md5 prefix, i.e. a NO-OP mod — the chunk key is the whole 60-bit
    * content hash. Keying chunks on the prefix reduced mod the 1e9-scale
    * [[P]] (the r12 form) birthday-collides once a corpus passes ~40-50k
    * distinct chunks (expected collisions ≈ n²/2e9), silently merging
    * unequal chunks and overstating dedup; at 2^60 the same threshold
    * sits at ~10^9 distinct chunks per ledger — the 100 TB design point.
    * Both engines compute the identical prefix, so the oracle stays
    * bit-exact (ADVICE r12). */
  val CdcKeyMod = 1L << 60

  /** d28: CONTENT-DEFINED CHUNKING dedup ledger — the storage-level
    * dedup a lakehouse/backup tier runs under the text pipeline (FastCDC,
    * Xia et al. USENIX ATC'16): chunk boundaries are declared wherever a
    * rolling content hash of the trailing [[CdcWindow]]-token window is
    * ≡ 0 mod [[CdcMod]], so boundaries are a function of LOCAL CONTENT,
    * not of position — insert a paragraph at the front of a document and
    * every chunk after the next boundary keeps its identity byte-for-byte
    * (the property fixed-size blocks structurally lack, and the reason
    * recurring crawls dedup at chunk level). Chunks are then keyed by
    * content hash and the ledger reports the dedup the store would
    * realize: chunk counts, distinct chunks, duplicate ppm, token mass
    * vs stored mass.
    *
    * Determinism: the boundary test and the chunk key are both
    * md5-prefix hashes ([[graft.functions.Md5PrefixMod]]), the
    * d3-precedented cross-engine-exact hash, so the oracle replicates
    * boundaries and keys bit-for-bit (no engine-defined fingerprints).
    * FastCDC's min/max chunk clamps are a sequential refinement left to
    * a deployment (documented, not silently approximated): without them
    * the boundary set is position-independent, which is what makes the
    * operator both declarative and oracle-exact.
    *
    * Scale: chunking is ONE map-only HOF pass per document (the
    * per-window md5 is the documented hot-loop cost — the rolling-gear
    * variant rides the d17 `token_window_hashes` precedent when the
    * digest dominates a profile); the only exchange is the 8-byte
    * chunk-key shuffle, map-side combined into the bounded ledger. */
  def d28CdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcLedger(cdcChunks(corpusExact(s, dir)))

  /** The map-only CDC pass: any frame with a `text` column → one row per
    * chunk (ctext, ch, ntok). Exposed for the spec's shift-invariance
    * fixture — the property that makes CDC worth its hash cost. */
  private[operators] def cdcChunks(docs: DataFrame): DataFrame = {
    val w = CdcWindow
    val toks = split(trim(col("text")), "\\s+")
    val base = docs.select(toks.as("t"))
      .withColumn("n", size(col("t")))
    val bnds = filter(
      transform(
        when(col("n") >= w + 1, sequence(lit(w), col("n") - 1))
          .otherwise(typedLit(Array.empty[Int])),
        i => when(graft.functions.Md5PrefixModF(
          concat_ws(" ", slice(col("t"), i - (w - 1), lit(w))), CdcMod) === 0, i)),
      x => x.isNotNull)
    base.withColumn("bnds", bnds)
      .withColumn("starts",
        concat(typedLit(Array(1)), transform(col("bnds"), b => b + 1)))
      .withColumn("ends", concat(col("bnds"), array(col("n"))))
      .select(explode(zip_with(col("starts"), col("ends"), (st, en) =>
        struct(concat_ws(" ", slice(col("t"), st, en - st + 1)).as("ctext"),
          (en - st + 1).cast("long").as("ntok")))).as("c"))
      .select(col("c.ctext").as("ctext"),
        graft.functions.Md5PrefixModF(col("c.ctext"), CdcKeyMod).as("ch"),
        col("c.ntok").as("ntok"))
  }

  private[operators] def cdcLedger(chunks: DataFrame): DataFrame =
    chunks.groupBy("ch")
      .agg(count(lit(1)).as("occ"), min(col("ntok")).as("ntok"))
      .agg(sum(col("occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        expr("sum(occ * ntok)").as("total_tokens"),
        sum(col("ntok")).as("stored_tokens"))
      .select(col("n_chunks"), col("n_distinct_chunks"),
        expr("(cast(n_chunks as decimal(38,0)) - n_distinct_chunks) * 1000000" +
          " div cast(n_chunks as decimal(38,0))").as("dup_chunk_ppm"),
        col("total_tokens"), col("stored_tokens"),
        expr("(cast(total_tokens as decimal(38,0)) - stored_tokens) * 1000000" +
          " div cast(total_tokens as decimal(38,0))").as("savings_ppm"))

  lazy val d28Sql: String =
    s"""WITH corpus AS ($corpusExactSql),
       |tk AS (
       | SELECT string_split_regex(trim(text), '\\s+') AS t FROM corpus),
       |bn AS (
       | SELECT t, len(t) AS n,
       |  list_filter(range($CdcWindow, len(t)), i ->
       |   ('0x' || substr(md5(array_to_string(t[i - ${CdcWindow - 1}:i], ' ')), 1, 15))::bigint
       |     % $CdcMod = 0) AS bnds
       | FROM tk),
       |b2 AS (
       | SELECT t,
       |  list_prepend(1, list_transform(bnds, b -> b + 1)) AS starts,
       |  list_append(bnds, n) AS ends
       | FROM bn),
       |ch AS (
       | SELECT ('0x' || substr(md5(c.ctext), 1, 15))::bigint % $CdcKeyMod AS ch,
       |        c.ntok AS ntok
       | FROM (
       |  SELECT unnest([{'ctext': array_to_string(t[starts[j]:ends[j]], ' '),
       |                  'ntok': ends[j] - starts[j] + 1}
       |                 FOR j IN range(1, len(starts) + 1)]) AS c
       |  FROM b2)),
       |g AS (SELECT ch, count(*) AS occ, min(ntok) AS ntok FROM ch GROUP BY ch)
       |SELECT cast(sum(occ) AS bigint) AS n_chunks,
       | count(*) AS n_distinct_chunks,
       | cast((sum(occ) - count(*)) * 1000000 // sum(occ) AS bigint) AS dup_chunk_ppm,
       | cast(sum(occ * ntok) AS bigint) AS total_tokens,
       | cast(sum(ntok) AS bigint) AS stored_tokens,
       | cast((sum(occ * ntok) - sum(ntok)) * 1000000 // sum(occ * ntok) AS bigint)
       |   AS savings_ppm
       |FROM g""".stripMargin

  lazy val d27Sql: String =
    s"""WITH pairs AS ($d3PairsSql),
       |corpus AS ($corpusNearSql),
       |v AS (
       | SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(a.text, b.text) AS bigint) AS dist,
       |  CAST(greatest(length(a.text), length(b.text)) AS bigint) AS len_max
       | FROM pairs p
       | JOIN corpus a ON a.doc_id = p.doc_a
       | JOIN corpus b ON b.doc_id = p.doc_b)
       |SELECT doc_a, doc_b, dist, len_max,
       |  ((len_max - dist) * 1000000) // len_max AS sim_ppm
       |FROM v WHERE dist * 10 <= len_max
       |ORDER BY doc_a, doc_b""".stripMargin
}
