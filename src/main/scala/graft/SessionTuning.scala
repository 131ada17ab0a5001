package graft

import org.apache.spark.sql.SparkSession

/** Env-driven session sizing shared by the runnable mains (Bench,
  * Verify, tools.TimeQueries), and the one session those mains build
  * ([[driver]]).
  *
  * Input-split sizing is a per-deployment scale knob (SURVEY §5): the
  * right split is the one whose DECOMPRESSED work fits a task budget,
  * but Spark sizes splits from compressed file bytes. A recurring-crawl
  * corpus is the worst case — near-identical replica documents
  * dictionary-compress ~50x, so a 128 MB split of such a file carries
  * gigabytes of scoring work and the scan collapses to a handful of
  * tasks. `SPARK_GRAFT_MAX_PARTITION_BYTES` (e.g. "4m" for the local
  * sf1 runs) sets the split budget for such data; unset, Spark's
  * defaults apply unchanged. `openCostInBytes` is lowered with it so
  * many-small-file tables are not re-coalesced past the requested
  * granularity.
  */
object SessionTuning {
  /** The driver-run session: `local[cores]` with `cores` shuffle
    * partitions, UTC, no UI, [[inputSplits]] and [[shuffleScaleOut]],
    * and the library's own extensions (native SQL functions and the
    * window-topk optimizer rule are part of the verified and
    * benchmarked engine). `cores` is `SPARK_GRAFT_CPUS`, else
    * `defaultCores`. */
  def driver(defaultCores: Int, extensions: Boolean = true): SparkSession.Builder = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.toInt)
    val b = shuffleScaleOut(inputSplits(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")), cores)
    if (extensions) b.withExtensions(new GraftExtensions) else b
  }

  def inputSplits(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").fold(b) { v =>
      b.config("spark.sql.files.maxPartitionBytes", v)
        .config("spark.sql.files.openCostInBytes", "65536")
    }

  /** Shuffle-width scale-out (the r12 verdict's g2 wall): a FIXED
    * shuffle-partition count is exactly the knob that breaks at 100× —
    * at sf3 the triangle census's wedge sort spilled at 32 partitions
    * and the wall went superlinear (6.0 → 35.3 → ~200 s for
    * sf0.1→sf1→sf3) while the algorithm's row growth stayed linear.
    * Fix in-engine, not in deployment docs: shuffles START wide
    * (initialPartitionNum = 4× cores) and AQE coalesces small ones back
    * down post-shuffle (`parallelismFirst` keeps tiny stages at full
    * parallelism rather than the 64 MB advisory target), so a heavy
    * shuffle splits finer WITHOUT retuning and a light one pays no
    * extra task overhead. `spark.sql.shuffle.partitions` stays at core
    * count as the non-coalescible fallback.
    *
    * 4× (128 at the 32-core harness), not 8×: Spark's shuffle writer
    * switches from the bypass-merge writer (one stream per reduce
    * partition, ZERO execution memory) to the serialized sorting writer
    * above `spark.shuffle.sort.bypassMergeThreshold` (200) reduce
    * partitions — measured on the g2 sf3 wedge exchange, 256-partition
    * writes OOM'd the 8 GB / 32-thread harness JVM inside the sorter's
    * spill path while 128-partition bypass writes stream the same 1.2 B
    * rows through fine. Staying under the threshold keeps the wide
    * shuffle CHEAPER than the narrow one, not just finer. */
  def shuffleScaleOut(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (cores * 4).toString)
}
