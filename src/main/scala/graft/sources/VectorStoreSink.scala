package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.functions.{TopK, VectorExpressions => V}

/** On-disk vector store: the chunk index (graft.operators.RagPipeline.ingest)
  * persisted PARTITIONED BY its LSH bucket, addressed through a
  * [[StoreManifest]] (the on-disk analogue of Pinecone's namespace+index
  * layout, embeddingmodel.js). Every write commits a new manifest version;
  * every read scans the files of the newest committed one, so a retrieve
  * lists no directory, infers no schema, and sees one whole snapshot.
  *
  * A query probes only its own bucket's files — the scan cost of a
  * retrieval is |bucket|, not |corpus|. A query batch that already sits
  * on the driver (a local relation, how loadbench and the ingest callers
  * pass questions) hands its bucket ids to the scan as a static partition
  * filter; any other batch is joined broadcast on the bucket partition
  * column, which Spark turns into a dynamic partition-pruning filter. The
  * bucket-equality join + cosine top-k after the scan is the s2 shape.
  */
object VectorStoreSink {

  private val Partition = "bucket"

  def write(index: DataFrame, path: String): Unit = {
    val s = index.sparkSession
    StoreManifest.write(s, path, index, Some(Partition), StoreManifest.latest(s, path), keep = _ => false)
  }

  /** Append one streaming micro-batch of index rows. The batch id is
    * recorded in the manifest, so a replayed batch commits once. */
  def append(index: DataFrame, path: String, batchId: Long): Unit = {
    val s = index.sparkSession
    val base = StoreManifest.latest(s, path)
    if (!base.flatMap(_.batchId).exists(_ >= batchId))
      StoreManifest.write(s, path, index, Some(Partition), base, keep = _ => true,
        batchId = Some(batchId))
  }

  /** Delete an id batch from the store, rewriting ONLY the partitions
    * that contain those ids (partition-pruned copy-on-write — the
    * on-disk form of embeddingmodel.deleteEmbeddingsByIds).
    *
    * The affected buckets (bounded by |ids|) are found with one pushed-
    * filter scan of the snapshot; their surviving rows are written as new
    * files, and the next manifest names those files in place of the
    * affected buckets' old ones. A bucket left empty simply drops out of
    * the manifest. Unaffected buckets are neither read (beyond the id
    * probe) nor rewritten, and a reader sees either the whole delete or
    * none of it. */
  def deleteByIds(s: SparkSession, path: String, ids: Seq[Long]): Unit = {
    val base = StoreManifest.snapshot(s, path)
    val store = StoreManifest.read(s, path, base)
    val affected = store.filter(col("chunk_uid").isin(ids: _*))
      .select(Partition).distinct().collect().map(_.get(0))
    if (affected.nonEmpty) {
      val keys = affected.map(_.toString).toSet
      val survivors = store.filter(col(Partition).isin(affected.toSeq: _*))
        .filter(!col("chunk_uid").isin(ids: _*))
      StoreManifest.write(s, path, survivors, Some(Partition), Some(base), keep = f => !keys(f.partition))
    }
  }

  def retrieve(s: SparkSession, path: String, queries: DataFrame, k: Int): DataFrame = {
    val q = queries
      .withColumn("qemb", graft.functions.CharHistEmbedF.embed(col("question")))
      .withColumn("qbucket", graft.operators.Similarity.lshBucket(col("qemb")))
      .select(col("query_id"), col("qemb"), col("qbucket"))
      // true domain bound (NumPlanes sign bits → [0, 2^NumPlanes)); also
      // the selective predicate Spark's DPP heuristic requires on the
      // build side before it will inject partition pruning
      .filter(col("qbucket").between(0, (1 << graft.operators.Similarity.NumPlanes) - 1))
    val store = StoreManifest.read(s, path).select("chunk_uid", "embedding", Partition)
    // a driver-resident batch is folded into one local relation, which
    // leaves DPP no build-side filter to key on; its bucket ids are already
    // computed on the driver, so they prune the scan as a static partition
    // filter. The set rides as ONE array literal, which generated code
    // references rather than inlines, so every batch shares one predicate
    // class (an IN list would compile anew per distinct bucket set). Any
    // other batch prunes through DPP (plan-asserted in the spec:
    // dynamicpruningexpression in PartitionFilters).
    val candidates = q.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        val i = l.output.indexWhere(_.name == "qbucket")
        store.filter(array_contains(lit(l.data.map(_.getInt(i)).distinct.toArray), col(Partition)))
      case _ => store
    }
    candidates.join(broadcast(q), col(Partition) === col("qbucket"))
      .groupBy("query_id")
      .agg(TopK.topKByScore(V.cosine(col("qemb"), col("embedding")), col("chunk_uid"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "chunk_uid")))
      .select(col("query_id"), (col("pos") + 1).as("rank"), col("chunk_uid"))
  }
}
