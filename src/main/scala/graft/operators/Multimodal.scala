package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata; decode/feature steps are
  * per-partition batch transforms (see graft.streaming / specs for the
  * mapPartitions decode stub — the codec libraries are intentionally not
  * in this container, so decode is a deterministic fake while the Spark
  * plumbing — schema, batching, partitioning — is real).
  *
  * These two oracle-checked queries exercise the relational plumbing:
  * binary ingestion + content addressing, and deterministic frame
  * sampling (an explode that never shuffles).
  */
object Multimodal {

  /** m1: binary asset table — per-source content stats over the binary
    * payload (documents.text stands in for the blob). */
  def m1BinaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("sha", sha2(col("payload"), 256))
      .groupBy("source")
      .agg(count(lit(1)).as("n_assets"),
           sum(col("n_bytes")).as("total_bytes"),
           countDistinct(col("sha")).as("distinct_payloads"),
           min(col("sha")).as("min_sha"))
      .orderBy("source")

  val m1Sql: String =
    """SELECT source, count(*) AS n_assets,
      | cast(sum(octet_length(text::blob)) AS bigint) AS total_bytes,
      | count(DISTINCT sha256(text)) AS distinct_payloads,
      | min(sha256(text)) AS min_sha
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val FrameStride = 50

  /** m2: deterministic frame sampling — every 50th "frame" of each asset
    * (n_chars as frame count), content-addressed. Pure map + explode. */
  def m2FrameSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "n_chars")
      .filter(col("n_chars") > 0)
      .withColumn("frame_idx", explode(sequence(lit(0), (col("n_chars") - 1).cast("int"), lit(FrameStride))))
      .withColumn("frame_key", concat(col("doc_id").cast("string"), lit("_"), col("frame_idx").cast("string")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(col("frame_key").cast("binary")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  /** m4 hamming radius and banding geometry: 8 bands × 8 bits. τ=16 is
    * calibrated to the LOW-CONTRAST surrogate stream (uniform ASCII
    * text keeps adjacent stripe means within ~0.5 byte, so resampling
    * flips more near-tie gradient bits than a natural image's
    * high-contrast grid would — the spec documents the measured
    * distribution). */
  val PhashTau = 16
  val PhashBands = 8
  val PhashBandBits = 8

  /** m4: PERCEPTUAL near-dup detection over media assets — the dHash
    * twin of d4's SimHash (m3 is the SEMANTIC twin; this is the
    * pixel-level one a crawl runs to catch RESAMPLED re-encodes of the
    * same image). Corpus: assets ∪ resolution-doubled re-encodes of
    * every 10th (each byte repeated — the byte-stream surrogate of an
    * image upscale; payload = the decoded-surrogate stream, m1's
    * convention). Candidate generation is HAMMING-SPACE LSH BANDING
    * (the d3 shape in bit space): the 64-bit hash splits into 8 bands
    * of 8 bits, assets colliding on ANY band meet, and the exact
    * `bit_count(xor) ≤ 12` verify prunes band false-positives — a
    * single leading-bit prefix block is NOT sound here because
    * low-contrast streams flip near-tie gradient bits anywhere, while
    * ≤τ errors across 8 bands leave a clean band with high
    * probability. Recall is PROBABILISTIC — the honest property of any
    * LSH candidate screen (d19's S-curve quantifies the same trade):
    * the spec asserts ≥90% planted recall plus the exact machinery
    * contract (every emitted pair verified ≤ τ; every planted pair
    * with a clean band and hamming ≤ τ is emitted, deterministically).
    *
    * Robustness class, stated honestly: dHash's 65 equal-FRACTION
    * stripes resample the stream to a fixed grid, so it is invariant
    * to RESOLUTION changes — but NOT to content-shifting edits like
    * appends, which realign every stripe (that class belongs to
    * d17/t28's alignment-free window fingerprints; the kernel spec
    * pins both behaviors).
    *
    * Engine-defined fingerprint → no SQL twin (the d4/d6/t6 class);
    * spec-validated: planted recall, hamming bound, determinism.
    * Scale: map-only hash, one (band, key) shuffle bounded by band
    * occupancy, exact verify candidate-bound — never all-pairs. */
  def m4PhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DHash
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val assets = d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          // (?s): '.' must match line terminators too, or a newline-bearing
          // doc's re-encode would double every char EXCEPT \n while the
          // spec's driver-side recompute doubles every code point
          regexp_replace(col("text"), "(?s)(.)", "$1$1").as("text")))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val hashed = assets
      .select(col("doc_id"), DHash.dhash64(col("payload")).as("ph"))
      .localCheckpoint()
    val bands = hashed.select(col("doc_id"), col("ph"),
      posexplode(array((0 until PhashBands).map(b =>
        shiftrightunsigned(col("ph"), b * PhashBandBits)
          .bitwiseAND(lit((1L << PhashBandBits) - 1))): _*)).as(Seq("band", "key")))
    val a = bands.select(col("doc_id").as("doc_a"), col("ph").as("ph_a"),
      col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("ph").as("ph_b"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ph_a", "ph_b").distinct()
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))))
      .filter(col("hamming") <= PhashTau)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val m2Sql: String =
    s"""SELECT doc_id, cast(i AS bigint) AS frame_idx,
       | md5(doc_id::varchar || '_' || i::varchar) AS frame_md5
       |FROM (SELECT doc_id,
       |   unnest(range(0, cast(n_chars AS int), $FrameStride)) AS i
       |  FROM documents WHERE n_chars > 0)
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** m3's asset corpus: every document as a typed media asset, plus
    * planted byte-identical copies of every 10th asset (id+100000,
    * media_type preserved) — the re-uploaded-asset shape semantic dedup
    * exists to collapse. */
  private[operators] def m3Corpus(s: SparkSession, dir: String) = {
    import s.implicits._
    val base = MultimodalDecode.assetsFromDocuments(s, dir)
    val planted = base.toDF().filter(col("asset_id") % 10 === 0)
      .select((col("asset_id") + 100000).as("asset_id"),
        col("media_type"), col("payload"))
      .as[MultimodalDecode.Asset]
    base.unionByName(planted)
  }

  /** m3: MULTIMODAL SEMANTIC DEDUP — the d11 SemDeDup recipe composed
    * with the multimodal decode front: media assets → per-partition
    * decode + stub embedding ([[MultimodalDecode.embedAssets]]) →
    * coarse clustering against a deterministic codebook (the s4
    * pattern: assets with id < 8 are the coarse centroids) → salted
    * shuffled dominance anti-join (the registered d11 scale path) →
    * surviving assets. A byte-identical re-upload embeds identically,
    * lands in its original's cluster, and is dominated by the lower id.
    *
    * Scale shape: the decode/embed pass is map-only (partition count
    * bounds decoder concurrency); the codebook is a one-row broadcast;
    * assignment is codegen'd NearestIndex argmax, zero corpus shuffle;
    * the dominance join shuffles on (cid, salt) with nothing
    * corpus-sized broadcast — identical plan family to d11, which
    * SemanticDedupPlanSpec pins. */
  def m3SemanticDedup(s: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    import graft.functions.{VectorExpressions => V}
    val e = MultimodalDecode.embedAssets(m3Corpus(s, dir)).toDF()
    val cb = e.filter(col("asset_id") < 8)
      .groupBy()
      .agg(sort_array(collect_list(struct(col("asset_id").as("cid"),
        col("embedding").as("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val assigned = e.crossJoin(broadcast(cb))
      .select(col("asset_id"), col("media_type"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))
    val probe = assigned.withColumn("salt", pmod(hash(col("asset_id")), lit(salts)))
    val earlier = assigned
      .select(col("asset_id").as("b_id"), col("embedding").as("b_emb"), col("cid").as("b_cid"))
      .withColumn("salt_b", explode(array((0 until salts).map(lit(_)): _*)))
    probe.join(earlier,
        col("cid") === col("b_cid") && col("salt") === col("salt_b")
          && col("b_id") < col("asset_id")
          && V.cosine(col("embedding"), col("b_emb")) > 0.99,
        "left_anti")
      .select("asset_id", "media_type", "cid")
      .orderBy("asset_id")
  }

  /** The stub embedding as SQL, over a corpus CTE exposing (asset_id,
    * media_type, text): dims 0-1 from the decode-stub geometry (payload
    * length only), dims 2-7 md5-derived — every component k/1024, cast
    * to double (bit-identical to the engine's float32 values). */
  private def embedSqlList: String = {
    val wh = Seq(
      "cast((16 + (octet_length(text::blob) % 16) * 8) * 4 - 512 AS double) / 1024",
      "cast((16 + ((octet_length(text::blob) // 16) % 16) * 8) * 4 - 512 AS double) / 1024")
    val hashed = (2 until 8).map(j =>
      s"cast((('0x' || substr(md5('$j' || text), 1, 15))::bigint % 1024) - 512 AS double) / 1024")
    (wh ++ hashed).mkString("[", ",\n    ", "]")
  }

  lazy val m3Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id AS asset_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       |    text
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + 100000 AS asset_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       |    text
       |  FROM documents WHERE doc_id % 10 = 0),
       |emb AS (
       |  SELECT asset_id, media_type,
       |    $embedSqlList AS embedding
       |  FROM corpus),
       |cent AS (SELECT asset_id AS cid, embedding AS cemb FROM emb WHERE asset_id < 8),
       |assigned AS (
       |  SELECT e.asset_id, e.media_type, e.embedding, c.cid
       |  FROM emb e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.asset_id
       |    ORDER BY list_cosine_similarity(e.embedding, c.cemb) DESC, c.cid ASC) = 1)
       |SELECT a.asset_id, a.media_type, a.cid FROM assigned a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM assigned b
       |  WHERE b.cid = a.cid AND b.asset_id < a.asset_id
       |    AND list_cosine_similarity(a.embedding, b.embedding) > 0.99)
       |ORDER BY asset_id""".stripMargin

  // ---- m5: incremental media near-dup against a persisted band index ----

  /** Band keys of a (doc_id, ph) frame — m4's banding, factored so the
    * index can be persisted and probed (the d24 pattern). Each row is 8
    * fingerprint-sized keys; the hash itself rides along so the verify
    * stage needs nothing but the index. */
  private def phBands(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), col("ph"),
      posexplode(array((0 until PhashBands).map(b =>
        shiftrightunsigned(col("ph"), b * PhashBandBits)
          .bitwiseAND(lit((1L << PhashBandBits) - 1))): _*)).as(Seq("band", "key")))

  private def m5Hashed(assets: DataFrame): DataFrame = {
    import graft.functions.DHash
    assets.select(col("doc_id"),
      DHash.dhash64(col("text").cast("binary")).as("ph"))
  }

  private[operators] def m5Existing(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "text").filter(col("doc_id") < 400)

  /** The incoming media batch: new assets ∪ planted RE-ENCODES
    * (byte-doubled — m4's resolution-change surrogate) of every 10th
    * existing asset ∪ planted exact RE-UPLOADS of every 15th. */
  private[operators] def m5NewBatch(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.filter(col("doc_id") >= 400)
      .unionByName(d.filter(col("doc_id") < 400 && col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "(?s)(.)", "$1$1").as("text")))
      .unionByName(d.filter(col("doc_id") < 400 && col("doc_id") % 15 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
  }

  private def m5Screen(newAssets: DataFrame, indexBands: DataFrame): DataFrame = {
    val nb = phBands(m5Hashed(newAssets))
      .select(col("doc_id").as("new_id"), col("ph").as("ph_n"),
        col("band"), col("key"))
    val cand = nb.join(indexBands
        .select(col("doc_id").as("base_id"), col("ph").as("ph_b"),
          col("band"), col("key")), Seq("band", "key"))
      .select("new_id", "base_id", "ph_n", "ph_b").distinct()
      .withColumn("matched",
        bit_count(col("ph_n").bitwiseXOR(col("ph_b"))) <= PhashTau)
    val agg = cand.groupBy("new_id").agg(
      count(lit(1)).as("n_cand"),
      sum(when(col("matched"), 1L).otherwise(0L)).as("n_match"),
      min(when(col("matched"), col("base_id"))).as("match_id"))
    newAssets.select(col("doc_id"))
      .join(agg, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        col("match_id"),
        when(coalesce(col("n_match"), lit(0L)) === 0, 1L).otherwise(0L).as("is_novel"))
      .orderBy("doc_id")
  }

  /** m5: INCREMENTAL perceptual media dedup — d24's recurring-crawl
    * pattern on the media side (assets get re-crawled and re-encoded
    * too): screen an incoming asset batch against the existing
    * collection's PERSISTED dHash band index, verify band collisions
    * with exact 64-bit hamming ≤ [[PhashTau]], and emit the per-asset
    * ingest verdict. Unlike d24 the index alone suffices for the verify
    * (the 8-byte hash rides with its band keys) — no payload ever
    * leaves the store. Engine-defined hash ⇒ spec-validated class
    * (d4/d6/t6/m4): planted exact re-uploads must match, re-encode
    * recall is banding recall, every reported match re-verified
    * driver-side.
    *
    * Scale: the 100 TB asset store contributes 8 band keys + one 8-byte
    * hash per asset (persisted once, appended per promoted batch); the
    * screen shuffles batch-sized key probes; hamming verify is
    * row-local bit arithmetic on the joined sliver. */
  def m5IncrementalPhash(s: SparkSession, dir: String): DataFrame =
    m5Screen(m5NewBatch(s, dir), phBands(m5Hashed(m5Existing(s, dir))))

  // ---- m6: image-text alignment screen (the LAION CLIP-filter pass) ----

  /** m6's embedding width and the cosine gate (0.99 as 9801/10000). */
  val AlignDims = 8
  val AlignTauSqX10k = 9801L

  /** One integer embedding dimension: md5-derived, uniform in
    * [-512, 511] — the m3 stub-encoder recipe kept PRE-division so
    * every downstream product is exact integer arithmetic. */
  private def embDim(j: Int, text: org.apache.spark.sql.Column) =
    (conv(substring(md5(concat(lit(j.toString), text).cast("binary")), 1, 15),
      16, 10).cast("long") % 1024) - 512

  /** m6: IMAGE-TEXT ALIGNMENT SCREEN — the LAION-5B construction pass
    * (Schuhmann et al. arXiv:2210.08402 §2: crawled (caption, image)
    * pairs survive only if CLIP cosine ≥ τ; ~90% of the crawl drops).
    * Corpus: every document is a (caption, payload) pair; every 7th
    * asset's payload is SWAPPED with its successor's (the mis-captioned
    * crawl junk the filter exists to kill — alt-text that belongs to a
    * different image). Both modalities embed through the stub encoder
    * (the container has no CLIP; a deployment swaps ONLY the encoder —
    * m1/m3's convention, MultimodalDecode.scala:10), and the gate is
    * EXACT: integer embeddings in [-512, 511]^8, score = the raw
    * integer dot product, and cosine ≥ 0.99 tested as the
    * cross-multiplied dot² × 10⁴ ≥ 9801 · |a|² · |b|² with dot > 0 —
    * no float, no sqrt, oracle-hashable (the s19 integer-score
    * discipline; max |dot| = 8·512² ≈ 2.1e6, every product ≤ 4.4e16 —
    * long-safe).
    *
    * Plan: the pairing is ONE co-partitioned self-join on the successor
    * key (key-unique, never fanning out); embed + score + verdict are
    * row-local map work after it — at 100 TB the screen costs one scan
    * and one key exchange, and the verdict column is what the p3-style
    * composed cuts would gate on. */
  /** m6's crawl corpus: (asset_id, source, caption, payload) with every
    * 7th payload swapped for its successor's. */
  private[graft] def m6Paired(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "source", "text")
    val partner = d.select((col("doc_id") - 1).as("pk"), col("text").as("succ_text"))
    d.join(partner, col("doc_id") === col("pk") && col("doc_id") % 7 === 0, "left")
      .select(col("doc_id").as("asset_id"), col("source"),
        col("text").as("caption"),
        coalesce(col("succ_text"), col("text")).as("payload"))
  }

  /** Public verdict API: score any (asset_id, source, caption, payload)
    * frame — adds the exact integer `alignment_dot` and the `aligned`
    * gate, keeps `payload` for downstream stages. Row-local map work. */
  def m6Verdicts(paired: DataFrame): DataFrame = {
    val embCols = Seq(col("asset_id"), col("source"), col("payload")) ++
      (0 until AlignDims).map(j => embDim(j, col("caption")).as(s"c$j")) ++
      (0 until AlignDims).map(j => embDim(j, col("payload")).as(s"p$j"))
    val scored = paired.select(embCols: _*)
    val dot = (0 until AlignDims).map(j => col(s"c$j") * col(s"p$j")).reduce(_ + _)
    val na = (0 until AlignDims).map(j => col(s"c$j") * col(s"c$j")).reduce(_ + _)
    val nb = (0 until AlignDims).map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _)
    scored.select(col("asset_id"), col("source"), col("payload"),
      dot.as("alignment_dot"),
      (dot > 0 && dot * dot * 10000L >= lit(AlignTauSqX10k) * na * nb)
        .cast("long").as("aligned"))
  }

  def m6AlignmentScreen(s: SparkSession, dir: String): DataFrame =
    m6Verdicts(m6Paired(s, dir))
      .select("asset_id", "source", "alignment_dot", "aligned")
      .orderBy("asset_id")

  /** p8's id-receipt modulus — the q42 overflow-free checksum rule. */
  val CutChecksumP = 1000000007L

  /** p8: the COMPOSED MULTIMODAL CORPUS CUT — LAION's construction
    * pipeline end-to-end as ONE oracle row (Schuhmann et al. 2210.08402
    * §2: CLIP-filter the crawl, dedup, publish the per-source
    * datasheet): m6's alignment screen drops mis-captioned pairs, exact
    * payload dedup collapses re-uploads among the survivors (keep =
    * lowest asset id per digest, d1's rule), and the ledger reports per
    * source: assets in, misaligned dropped, duplicates dropped, kept,
    * kept byte mass, and the modular kept-id receipt (sum(id % P) % P
    * in decimal(38,0) — exact at any corpus size, the q42 discipline).
    *
    * Plan: the screen is map-local after m6's one key-unique self-join;
    * the dedup is ONE digest-keyed map-combined aggregate whose
    * join-back reuses the digest hashing (co-partitioned — the keeper
    * verdict never broadcasts anything corpus-sized); the ledger is a
    * |sources|-bound rollup. Three corpus-sized operators, two
    * exchanges total, nothing quadratic. */
  def p8MultimodalCut(s: SparkSession, dir: String): DataFrame = {
    val v = m6Verdicts(m6Paired(s, dir))
      .withColumn("digest", md5(col("payload").cast("binary")))
    val keep = v.filter(col("aligned") === 1L)
      .groupBy("digest").agg(min("asset_id").as("keep_id"))
    v.join(keep, Seq("digest"), "left")
      .withColumn("keeper",
        (col("aligned") === 1L && col("asset_id") === col("keep_id")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_assets"),
        sum(lit(1L) - col("aligned")).as("n_misaligned"),
        sum(col("aligned") - col("keeper")).as("n_dup_dropped"),
        sum(col("keeper")).as("n_kept"),
        sum(when(col("keeper") === 1L, octet_length(col("payload")).cast("long"))
          .otherwise(0L)).as("kept_bytes"),
        (sum(when(col("keeper") === 1L, col("asset_id") % CutChecksumP)
          .otherwise(0L).cast("decimal(38,0)")) % CutChecksumP)
          .cast("long").as("kept_id_receipt"))
      .orderBy("source")
  }

  val p8Sql: String = {
    def dim(j: Int, src: String) =
      s"(('0x' || substr(md5('$j' || $src), 1, 15))::bigint % 1024) - 512"
    val cs = (0 until AlignDims).map(j => s"${dim(j, "caption")} AS c$j")
    val ps = (0 until AlignDims).map(j => s"${dim(j, "payload")} AS p$j")
    val dot = (0 until AlignDims).map(j => s"c$j*p$j").mkString(" + ")
    val na = (0 until AlignDims).map(j => s"c$j*c$j").mkString(" + ")
    val nb = (0 until AlignDims).map(j => s"p$j*p$j").mkString(" + ")
    s"""WITH paired AS (
       | SELECT d.doc_id AS asset_id, d.source, d.text AS caption,
       |  coalesce(p.text, d.text) AS payload
       | FROM documents d
       |  LEFT JOIN documents p
       |   ON p.doc_id = d.doc_id + 1 AND d.doc_id % 7 = 0),
       |emb AS (
       | SELECT asset_id, source, payload,
       |  ${(cs ++ ps).mkString(",\n  ")}
       | FROM paired),
       |sc AS (
       | SELECT asset_id, source, payload,
       |  CASE WHEN $dot > 0 AND ($dot)*($dot)*10000 >= $AlignTauSqX10k*($na)*($nb)
       |    THEN 1 ELSE 0 END AS aligned,
       |  md5(payload) AS digest
       | FROM emb),
       |keep AS (
       | SELECT digest, min(asset_id) AS keep_id FROM sc WHERE aligned = 1
       | GROUP BY digest)
       |SELECT source, count(*) AS n_assets,
       | cast(sum(1 - aligned) AS bigint) AS n_misaligned,
       | cast(sum(aligned -
       |   CASE WHEN aligned = 1 AND asset_id = keep_id THEN 1 ELSE 0 END)
       |  AS bigint) AS n_dup_dropped,
       | cast(sum(CASE WHEN aligned = 1 AND asset_id = keep_id THEN 1 ELSE 0 END)
       |  AS bigint) AS n_kept,
       | cast(sum(CASE WHEN aligned = 1 AND asset_id = keep_id
       |   THEN octet_length(payload::blob) ELSE 0 END) AS bigint) AS kept_bytes,
       | cast(cast(sum(CASE WHEN aligned = 1 AND asset_id = keep_id
       |     THEN asset_id % $CutChecksumP ELSE 0 END) AS hugeint)
       |   % $CutChecksumP AS bigint) AS kept_id_receipt
       |FROM sc LEFT JOIN keep USING (digest)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val m6Sql: String = {
    def dim(j: Int, src: String) =
      s"(('0x' || substr(md5('$j' || $src), 1, 15))::bigint % 1024) - 512"
    val cs = (0 until AlignDims).map(j => s"${dim(j, "caption")} AS c$j")
    val ps = (0 until AlignDims).map(j => s"${dim(j, "payload")} AS p$j")
    val dot = (0 until AlignDims).map(j => s"c$j*p$j").mkString(" + ")
    val na = (0 until AlignDims).map(j => s"c$j*c$j").mkString(" + ")
    val nb = (0 until AlignDims).map(j => s"p$j*p$j").mkString(" + ")
    s"""WITH paired AS (
       | SELECT d.doc_id AS asset_id, d.source, d.text AS caption,
       |  coalesce(p.text, d.text) AS payload
       | FROM documents d
       |  LEFT JOIN documents p
       |   ON p.doc_id = d.doc_id + 1 AND d.doc_id % 7 = 0),
       |emb AS (
       | SELECT asset_id, source,
       |  ${(cs ++ ps).mkString(",\n  ")}
       | FROM paired),
       |sc AS (
       | SELECT asset_id, source, $dot AS dot,
       |  $na AS na, $nb AS nb
       | FROM emb)
       |SELECT asset_id, source, cast(dot AS bigint) AS alignment_dot,
       | cast(CASE WHEN dot > 0 AND dot*dot*10000 >= $AlignTauSqX10k*na*nb
       |   THEN 1 ELSE 0 END AS bigint) AS aligned
       |FROM sc ORDER BY asset_id""".stripMargin
  }

  /** Persist the asset index: (doc_id, ph, band, key) — 8 rows of ~32 B
    * per asset, the whole verify surface. */
  def m5IndexWrite(s: SparkSession, dir: String, path: String): Unit =
    phBands(m5Hashed(m5Existing(s, dir)))
      .write.mode("overwrite").parquet(path)

  /** The deployment twin: screen against the index as persisted by
    * [[m5IndexWrite]] — spec-equal to the one-shot. */
  def m5ScreenFrom(s: SparkSession, dir: String, path: String): DataFrame =
    m5Screen(m5NewBatch(s, dir), Tables.parquet(s, path))

  // ---- m7: scene-cut detection over sampled frames ----

  /** m7 frame window (decoded-surrogate bytes per frame; frames are
    * DISJOINT — overlapping windows would smear a hard cut across
    * several frame pairs and under-report its magnitude, the reason
    * shot detectors compare whole successive frames) and the cut
    * threshold. τ=8 is calibrated to the LOW-CONTRAST surrogate stream
    * (m4's caveat applies doubly here: uniform ASCII keeps stripe means
    * close, so even a full content change flips only ~10-25 gradient
    * bits, while periodic smooth content flips ZERO — the spec measures
    * both sides of the margin). */
  val SceneFrameLen = 200
  val SceneTau = 8

  /** m7: SCENE-CUT detection — the shot-boundary pass a video pipeline
    * runs before per-shot sampling/captioning (PySceneDetect's content
    * detector, TransNet's training target): slice the stream into
    * disjoint [[SceneFrameLen]]-byte frames, dHash each frame's
    * decoded-surrogate window, and declare a cut where the hamming
    * distance to the PREVIOUS frame exceeds [[SceneTau]].
    * Report per asset: frames, cuts, shots (= cuts+1), mean shot length
    * ×100, and the max inter-frame distance.
    *
    * The frame "pixels" are the m1/m4 decode-surrogate convention (a
    * byte window of the payload at the frame offset — real decode is a
    * container-stubbed batch transform, the plumbing is what's real).
    *
    * Scale: hashing is map-only after m2's shuffle-free explode; the
    * lag runs in ONE window over (asset, frame_idx) — per-asset frame
    * counts are duration-bounded, the high-cardinality-key window class
    * (e1's rationale, not a hot-key hazard); the report is one
    * map-combined aggregate. Engine-defined fingerprint → spec class
    * (d4/d6/t6/m4/m5): planted-boundary recall, smooth-content zero
    * false cuts, determinism. */
  def m7SceneCuts(s: SparkSession, dir: String): DataFrame =
    sceneCutReport(Tables.documents(s, dir).select("doc_id", "text"))

  /** The engine body over any (doc_id, text) frame — fixture-pluggable
    * for the spec's planted scene boundaries. */
  private[operators] def sceneCutReport(docs: DataFrame): DataFrame = {
    import graft.functions.DHash
    import org.apache.spark.sql.expressions.Window
    // full windows only: a truncated tail window resamples the stripe
    // grid and fakes a cut at end-of-stream (a real detector drops the
    // partial frame for the same reason). The same rule applies to the
    // FIRST frame (ADVICE r12): an asset shorter than one frame has no
    // full window at all and is dropped outright — the previous
    // greatest(..., 0) clamp hashed a single truncated frame at offset
    // 0, contradicting this convention (harmless for cuts, but
    // n_frames/mean_shot_frames reported on a partial window).
    val frames = docs.filter(length(col("text")) >= SceneFrameLen)
      .withColumn("frame_idx", explode(sequence(
        lit(0), length(col("text")) - SceneFrameLen,
        lit(SceneFrameLen))))
      .withColumn("fh", DHash.dhash64(
        col("text").substr(col("frame_idx") + 1, lit(SceneFrameLen)).cast("binary")))
    val byAsset = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("ham", bit_count(col("fh").bitwiseXOR(lag(col("fh"), 1).over(byAsset))))
      .withColumn("cut", when(col("ham") > SceneTau, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("cut")).as("n_cuts"),
        coalesce(max(col("ham")), lit(0)).cast("long").as("max_hamming"))
      .select(col("doc_id"), col("n_frames"), col("n_cuts"),
        (col("n_cuts") + 1L).as("n_shots"),
        expr("n_frames * 100 DIV (n_cuts + 1)").as("mean_shot_frames_x100"),
        col("max_hamming"))
      .orderBy("doc_id")
  }
}
