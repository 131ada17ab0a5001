package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TopK, PqExpressions => PQ, VectorExpressions => V}

/** The ON-DISK VECTOR-INDEX ARTIFACT — the serving-tier handoff the
  * HNSW decision record (SURVEY.md §4) promises. The reference persists
  * and reloads its index (`vectorStore.save(VECTOR_STORE_PATH)` /
  * `HNSWLib.load(...)`, /root/reference/controllers/
  * customTrainDataController.js:55-62); this is the Spark-built
  * equivalent: one documented directory that ties the coarse quantizer,
  * the trained PQ codebooks, and the cid-partitioned codes together, so
  * a serving tier can either (a) probe it directly with [[probe]]
  * (bulk / batch serving, partition-pruned) or (b) import it — the
  * layout maps 1:1 onto a FAISS `IndexIVFPQ`:
  *
  * {{{
  * <path>/
  *   meta/            one row: dim, nlist, m, sub, k (layout contract)
  *   coarse/          (cid INT, cemb ARRAY<FLOAT>)       = the IVF coarse quantizer
  *   pq/              (m INT, c INT, cent ARRAY<BIGINT>) = per-subspace PQ codebooks
  *                                                          (micro fixed-point, ×1e-6 for floats)
  *   codes/cid=<i>/   (vec_id LONG, codes ARRAY<INT>)    = the inverted lists, PQ-encoded
  * }}}
  *
  * Scale shape: `build` is two map-only corpus passes (coarse assign via
  * the codegen'd NearestIndex argmax, PQ encode via PqEncode, both
  * against one-row broadcast codebooks) plus the PqCodebook training
  * chain; the write is partitioned by cid so the lists ARE partition
  * directories. `probe` is the s10/IvfIndex shape: the broadcast probe
  * join on the cid partition column triggers dynamic partition pruning
  * (only probed lists are read), scoring touches only the codes (exact
  * integer ADC), and an optional exact re-rank reads raw vectors by id.
  * Codebooks round-trip bit-exactly (integers + float32 parquet), so a
  * reloaded index probes identically to the in-session build
  * (spec-asserted).
  */
object VectorIndexExport {

  /** Train coarse (deterministic first-`nlist` vectors, the s4 contract)
    * + PQ codebooks, encode, and write the artifact. `e` = (vec_id,
    * embedding). For a k-means coarse quantizer swap in IvfIndex.train's
    * centroids — the layout is identical. */
  def build(e: DataFrame, path: String, nlist: Int = 8,
      k: Int = PqCodebook.M, iters: Int = PqCodebook.Iters): Unit = {
    val coarse = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cemb"))
    val cents = PqCodebook.train(e, k, iters).withColumn("kcb", lit(k)).localCheckpoint()
    // one-row broadcast codebooks for the two map-only encode passes
    val ccb = coarse.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    val pcb = PqCodebook.kbsRow(cents, Seq(k))
    val codes = e.crossJoin(broadcast(ccb)).crossJoin(broadcast(pcb))
      .select(col("vec_id"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"),
        PQ.encode(col("embedding"), element_at(col("kbs"), 1)).as("codes"))
    e.agg(min(size(col("embedding"))).as("dim"))
      .select(col("dim"), lit(nlist).as("nlist"), lit(PqCodebook.M).as("m"),
        lit(PqCodebook.Sub).as("sub"), lit(k).as("k"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    coarse.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/coarse")
    cents.select("m", "c", "cent").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/pq")
    codes.write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(s"$path/codes")
  }

  /** The reloaded artifact: frames over the stored files (lazy — the
    * codes scan is only pruned/read when a probe runs). */
  case class Loaded(meta: DataFrame, coarse: DataFrame, pq: DataFrame, codes: DataFrame)

  def load(s: SparkSession, path: String): Loaded =
    Loaded(graft.Tables.parquet(s, s"$path/meta"), graft.Tables.parquet(s, s"$path/coarse"),
      graft.Tables.parquet(s, s"$path/pq"), graft.Tables.parquet(s, s"$path/codes"))

  /** Probe the STORED index: queries (qid, qemb) → (qid, rank, neighbor).
    * nprobe lists per query, integer ADC over the stored codes, top-k.
    * Reads only the probed cid= directories (dynamic partition pruning
    * via the broadcast probe join — plan-asserted in the spec). */
  def probe(idx: Loaded, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val kcb = idx.meta.select("k").head().getInt(0)
    val nlist = idx.meta.select("nlist").head().getInt(0)
    val pcb = PqCodebook.kbsRow(idx.pq.withColumn("kcb", lit(kcb)), Seq(kcb))
    val ccb = idx.coarse.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cb"))
      .select(expr("transform(cb, c -> c.cid)").as("cids"),
              expr("transform(cb, c -> c.cemb)").as("cembs"))
    // rank centroids per query once (position in the cid-sorted codebook
    // row IS the cid — ids are dense from 0); fan out to the nprobe
    // nearest; the ADC lookup table rides the query row
    val ranked = queries.crossJoin(broadcast(ccb))
      .select(col("qid"), col("qemb"), posexplode(col("cembs")).as(Seq("cidx", "cemb")))
      .withColumn("csim", V.cosine(col("qemb"), col("cemb")))
      .groupBy("qid")
      .agg(TopK.topKByScore(col("csim"), col("cidx").cast("long"), nprobe).as("pcids"),
           first(col("qemb")).as("qemb"))
    val probes = ranked.crossJoin(broadcast(pcb))
      .select(col("qid"), PQ.adcTable(col("qemb"), element_at(col("kbs"), 1)).as("tbls"),
        explode(col("pcids")).as("pcid0"))
      .select(col("qid"), col("tbls"), col("pcid0").cast("int").as("qcid"))
      // true domain bound; also the selective predicate DPP requires
      .filter(col("qcid").between(0, nlist - 1))
    idx.codes
      .join(broadcast(probes), col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
      .withColumn("score", PQ.adcScore(col("codes"), col("tbls")).cast("double"))
      .groupBy("qid")
      .agg(TopK.topKByScore(col("score"), col("vec_id"), k).as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "neighbor")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("neighbor"))
      .orderBy("qid", "rank")
  }
}
