package graft.sources

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TopK, VectorExpressions => V}

/** Trained IVF (inverted-file) ANN index: the bulk-build scale path for
  * the reference's vector store (hnswlib's role in
  * customTrainDataController.js — a graph index is the wrong shape for
  * bulk Spark builds, an inverted file is the right one).
  *
  * Three phases, each with the 100 TB plan:
  *
  *  1. `train`: k-means codebook on a bounded SAMPLE of the corpus
  *     (sample size is k-dependent, not corpus-dependent — MLlib's
  *     distributed KMeans over a few hundred-thousand sampled rows).
  *  2. `build`: coarse-assign every vector to its nearest centroid with
  *     the codegen'd argmax (graft.functions.NearestIndex) over the
  *     BROADCAST codebook — a map-only scan, zero corpus shuffle — and
  *     write the store PARTITIONED BY centroid id (the on-disk inverted
  *     lists), committed through a [[StoreManifest]] that carries the
  *     codebook inline.
  *  3. `probe`: embed queries, rank centroids per query with the same
  *     broadcast codebook, take the `nprobe` nearest lists, and scan
  *     ONLY those partitions of the committed snapshot — the broadcast
  *     probe join on the cid partition column triggers DYNAMIC PARTITION
  *     PRUNING, so the probed-list set never rides through the driver and
  *     pruning scales to arbitrary query batches; exact cosine top-k
  *     inside the probed lists via the bounded aggregate.
  *
  * Recall/latency trade is `k` (list granularity) × `nprobe` (lists
  * visited): probe cost is nprobe/k of the corpus, recall rises with
  * nprobe → IvfIndexSpec measures recall@k against the s1 brute-force
  * baseline.
  */
object IvfIndex {

  /** k-means codebook over (a sample of) the embedding column; returns
    * centroids as float arrays, index = centroid id. Deterministic for a
    * fixed seed. */
  def train(embeddings: DataFrame, k: Int, seed: Long = 42L,
      sampleFraction: Double = 1.0): Array[Array[Float]] = {
    val s = embeddings.sparkSession
    import s.implicits._
    val sampled = if (sampleFraction >= 1.0) embeddings
      else embeddings.sample(withReplacement = false, sampleFraction, seed)
    val train = sampled.select("embedding").as[Array[Float]]
      .map(a => Tuple1(Vectors.dense(a.map(_.toDouble))))
      .toDF("features")
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features").fit(train)
    model.clusterCenters.map(_.toArray.map(_.toFloat))
  }

  /** Codebook as a one-row broadcastable frame (cids ascending + parallel
    * embeddings), the shape NearestIndex consumes. */
  private def codebookDf(s: SparkSession, centroids: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    Seq((centroids.indices.toArray, centroids)).toDF("cids", "cembs")
  }

  /** Map-only coarse assignment: (vec_id, embedding, cid). */
  private def assign(embeddings: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    embeddings.crossJoin(broadcast(codebookDf(embeddings.sparkSession, centroids)))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("cid"))

  /** Map-only coarse assignment + partitioned write: one scan of the
    * corpus, inverted lists materialized as `cid=<i>` directories. The
    * committed manifest replaces any previous content of `path` and
    * carries the codebook inline. */
  def build(embeddings: DataFrame, centroids: Array[Array[Float]], path: String): Unit = {
    val s = embeddings.sparkSession
    StoreManifest.write(s, path, assign(embeddings, centroids), Some("cid"),
      StoreManifest.latest(s, path), keep = _ => false, codebook = Some(centroids))
  }

  /** Incremental refresh: absorb an UPSERT batch into an existing index
    * without a rebuild (the per-tenant load-then-add flow of the
    * reference's HNSWLib.load + addDocuments,
    * customTrainDataController.js:56-62, re-expressed for the inverted
    * file). The new batch is coarse-assigned MAP-ONLY against the
    * STORED codebook — same broadcast argmax as [[build]], zero corpus
    * shuffle, the existing lists are never read — and committed as new
    * files inside only the `cid=` directories it hashes into.
    * Because assignment is a pure function of (embedding, codebook),
    * an appended store is bit-identical in content to a from-scratch
    * rebuild over the union (spec-asserted via probe equality), so
    * probes need no freshness special-casing. */
  def append(newBatch: DataFrame, centroids: Array[Array[Float]], path: String): Unit = {
    val s = newBatch.sparkSession
    val base = StoreManifest.latest(s, path)
    require(base.flatMap(_.codebook).forall(_.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq),
      s"$path: append must assign against the store's own codebook")
    StoreManifest.write(s, path, assign(newBatch, centroids), Some("cid"), base, keep = _ => true,
      codebook = Some(centroids))
  }

  /** Staleness metric — the retrain signal for an append-maintained
    * index: the fraction of STORED vectors whose nearest centroid under
    * a candidate (retrained) codebook differs from their stored list.
    * Map-only over the store + one global count; when the rate crosses
    * the deployment's threshold, rebuild with the new codebook,
    * otherwise keep appending. Returns one row
    * (n_vectors, n_reassigned, reassign_ppm). */
  def staleness(s: SparkSession, path: String,
      retrained: Array[Array[Float]]): DataFrame = {
    StoreManifest.read(s, path)
      .crossJoin(broadcast(codebookDf(s, retrained)))
      .select(col("cid"),
        element_at(col("cids"), V.nearest(col("embedding"), col("cembs")) + 1).as("new_cid"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("cid") =!= col("new_cid"), 1L).otherwise(0L)).as("n_reassigned"))
      .select(col("n_vectors"), col("n_reassigned"),
        expr("n_reassigned * 1000000 div n_vectors").as("reassign_ppm"))
  }

  /** Probe: per query, the `nprobe` nearest centroids' lists only.
    * queries(qid, qemb) → (qid, rank, neighbor). `excludeSelf` drops
    * the stored vector whose vec_id equals qid — the corpus-self-query
    * fixture shape; pass false for EXTERNAL batches (an embedded user
    * question is not a store member, and its qid namespace is the
    * caller's, not the store's). */
  def probe(s: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Float]], k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame =
    probe(StoreManifest.read(s, path), queries, centroids, k, nprobe, excludeSelf)

  /** [[probe]] over an already-resolved store snapshot. */
  private[sources] def probe(store: DataFrame, queries: DataFrame,
      centroids: Array[Array[Float]], k: Int, nprobe: Int,
      excludeSelf: Boolean): DataFrame = {
    val cb = codebookDf(store.sparkSession, centroids)
    // rank ALL centroids per query (|codebook| is broadcast-small), keep
    // nprobe; qcid stays the scan's partition-column type so the join
    // below keys on the bare partition attribute
    val qcids = queries.crossJoin(broadcast(cb))
      .select(col("qid"), col("qemb"),
        posexplode(col("cembs")).as(Seq("cidx", "cemb")))
      .withColumn("csim", V.cosine(col("qemb"), col("cemb")))
      .groupBy("qid")
      .agg(TopK.topKByScore(col("csim"), col("cidx").cast("long"), nprobe).as("probe_cids"),
           first(col("qemb")).as("qemb"))
      .select(col("qid"), col("qemb"), explode(col("probe_cids")).as("qcid0"))
      .select(col("qid"), col("qemb"), col("qcid0").cast("int").as("qcid"))
      // true domain bound (codebook ids); also the selective predicate
      // Spark's DPP heuristic requires on the build side, independent of
      // whatever filters the caller's query frame carries
      .filter(col("qcid").between(0, centroids.length - 1))
    // the probe join IS the pruning: broadcasting the (queries × nprobe)-
    // row probe set against the cid PARTITION column hands Spark a
    // dynamic partition-pruning subquery — the scan reads only the
    // probed cid= partitions of the snapshot (plan-asserted:
    // dynamicpruningexpression in PartitionFilters), and the probed-id set
    // never rides through the driver, so a thousand-query batch prunes
    // exactly like a one-query batch
    val joinCond =
      if (excludeSelf) col("cid") === col("qcid") && col("vec_id") =!= col("qid")
      else col("cid") === col("qcid")
    store
      .join(broadcast(qcids), joinCond)
      .groupBy("qid")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("vec_id"), k).as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "neighbor")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("neighbor"))
      .orderBy("qid", "rank")
  }
}
