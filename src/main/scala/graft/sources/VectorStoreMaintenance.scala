package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed vector-store MAINTENANCE LOOP — the deployment flow the
  * reference runs per tenant as HNSWLib.load → addDocuments → save
  * (customTrainDataController.js:56-62), re-expressed for the
  * inverted-file store: upsert stream → coarse-assigned APPEND into the
  * current index generation → staleness check against a freshly-trained
  * candidate codebook → threshold-triggered REBUILD as a new
  * generation.
  *
  * Generations, not in-place rewrites: a rebuild writes `gen_<g+1>`
  * beside the live `gen_<g>`, and a generation exists for readers only
  * once its [[StoreManifest]] is committed — with its codebook inline,
  * so a probe never sees a generation without its codebook, and a
  * 100 TB rebuild streams corpus → new directory without touching the
  * serving copy. Appends go into the CURRENT generation's `cid=`
  * directories only (IvfIndex.append — map-only against the stored
  * codebook), each as one committed manifest version.
  *
  * Centroid ALIGNMENT before the staleness vote: k-means on the grown
  * store returns the same clusters under an arbitrary INDEX
  * PERMUTATION; comparing raw assignment indices would count every
  * vector of a permuted cluster as "reassigned" and spuriously trigger
  * rebuilds forever. The candidate codebook is therefore greedily
  * matched to the stored one (highest-cosine pairs first, driver-side
  * over the k×k sliver) so the metric measures real drift, not label
  * shuffling.
  */
object VectorStoreMaintenance {

  /** What one absorb cycle did. */
  case class MaintenanceReport(generation: Int, nVectors: Long,
      reassignPpm: Long, retrained: Boolean)

  private def genPath(root: String, g: Int) = s"$root/gen_$g"
  private val GenDir = "^gen_(\\d+)$".r

  /** The live generation: the highest `gen_<n>` with a committed manifest
    * (-1 for an empty/absent root). Listed through Hadoop's FileSystem
    * against the session's configuration — the same path I/O the index
    * reads/writes use — so a non-local root (HDFS/S3) resolves; the
    * pattern is anchored so a sibling merely CONTAINING "gen_<n>" never
    * counts, and a directory a crashed rebuild left without a manifest
    * is not a generation. */
  def currentGen(s: SparkSession, root: String): Int = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) -1
    else fs.listStatus(path)
      .flatMap(st => GenDir.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt))
      .sorted(Ordering[Int].reverse)
      .find(g => StoreManifest.latest(s, genPath(root, g)).isDefined)
      .getOrElse(-1)
  }

  /** Delete every `gen_<h>` with h < g (committed or not). */
  private def retireBelow(s: SparkSession, root: String, g: Int): Unit = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(path).foreach { st =>
      GenDir.findFirstMatchIn(st.getPath.getName)
        .filter(_.group(1).toInt < g).foreach(_ => fs.delete(st.getPath, true))
    }
  }

  private def codebookOf(snap: StoreSnapshot, at: String): Array[Array[Float]] =
    snap.codebook.getOrElse(throw new IllegalStateException(s"$at has no codebook"))

  /** The stored codebook of a generation, cid-ordered (read from its
    * manifest; no Spark job). */
  def loadCodebook(s: SparkSession, root: String, g: Int): Array[Array[Float]] =
    codebookOf(StoreManifest.snapshot(s, genPath(root, g)), genPath(root, g))

  /** Bootstrap generation 0 from a base corpus. */
  def init(embeddings: DataFrame, k: Int, root: String, seed: Long = 42L): Unit =
    IvfIndex.build(embeddings, IvfIndex.train(embeddings, k, seed), genPath(root, 0))

  /** Reorder `candidate` so its index i holds the centroid best matching
    * stored centroid i — greedy on descending cosine over the k×k pairs
    * (k is codebook-sized; this is driver-side sliver work). */
  private[sources] def alignTo(stored: Array[Array[Float]],
      candidate: Array[Array[Float]]): Array[Array[Float]] = {
    val pairs = for {
      i <- stored.indices; j <- candidate.indices
    } yield (graft.operators.Similarity.cosLocal(stored(i), candidate(j)), i, j)
    val out = new Array[Array[Float]](stored.length)
    val usedS = new Array[Boolean](stored.length)
    val usedC = new Array[Boolean](candidate.length)
    pairs.sortBy { case (c, i, j) => (-c, i, j) }.foreach { case (_, i, j) =>
      if (!usedS(i) && !usedC(j)) { out(i) = candidate(j); usedS(i) = true; usedC(j) = true }
    }
    out
  }

  /** One maintenance cycle: append the batch into the current
    * generation, retrain a candidate codebook on the grown store, align
    * it, measure staleness, and rebuild as generation g+1 when the
    * reassignment rate crosses `thresholdPpm`. A committed rebuild
    * retires every generation below g — StoreManifest's file retention
    * applied to generations: a reader that resolved gen_g keeps its
    * snapshot until the next rebuild. */
  def absorb(s: SparkSession, batch: DataFrame, root: String,
      thresholdPpm: Long, seed: Long = 42L): MaintenanceReport = {
    val g = currentGen(s, root)
    require(g >= 0, s"no generation under $root — call init first")
    val stored = loadCodebook(s, root, g)
    IvfIndex.append(batch.select("vec_id", "embedding"), stored, genPath(root, g))
    val store = StoreManifest.read(s, genPath(root, g)).select("vec_id", "embedding")
      .localCheckpoint() // pinned: read by train, staleness, and a rebuild
    val candidate = alignTo(stored,
      IvfIndex.train(store, stored.length, seed))
    val st = IvfIndex.staleness(s, genPath(root, g), candidate).collect()(0)
    val (n, ppm) = (st.getLong(0), st.getLong(2))
    val retrain = ppm > thresholdPpm
    if (retrain) {
      IvfIndex.build(store, candidate, genPath(root, g + 1))
      retireBelow(s, root, g)
    }
    MaintenanceReport(if (retrain) g + 1 else g, n, ppm, retrain)
  }

  /** Serve against the live generation with its own codebook, both from
    * one resolved snapshot. */
  def probe(s: SparkSession, root: String, queries: DataFrame, k: Int,
      nprobe: Int, excludeSelf: Boolean = false): DataFrame = {
    val path = genPath(root, currentGen(s, root))
    val snap = StoreManifest.snapshot(s, path)
    IvfIndex.probe(StoreManifest.read(s, path, snap), queries, codebookOf(snap, path),
      k, nprobe, excludeSelf)
  }
}
