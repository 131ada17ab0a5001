package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for a manifest-addressed table — the layout
  * maintenance a 100 TB warehouse runs continuously (Iceberg's
  * `rewrite_data_files` / Delta's OPTIMIZE; the reference never needs
  * it because Mongo hides layout, but a lake deployment lives or dies
  * by it: a streaming ingest that commits every minute leaves thousands
  * of KB-scale files, and every downstream scan then pays one open +
  * footer parse + seek per file).
  *
  * Three surfaces, all over one [[StoreSnapshot]]:
  *  - [[fileReport]]: per data file of the newest snapshot, bytes and
  *    rows — bytes from the manifest, rows from a DISTRIBUTED
  *    footer-group count keyed by `input_file_name()` (executors read
  *    their own splits; the driver never opens a data file).
  *  - [[plan]]: deterministic first-fit-decreasing bin pack of the
  *    snapshot's files into target-byte groups (bytes desc, path asc
  *    tiebreak), never mixing partitions. Planning reads only the
  *    manifest — O(files) state on the driver, the same scale the
  *    commit already holds there — and files at/over the target get a
  *    singleton group.
  *  - [[compact]]: ONE [[StoreManifest]] commit that rewrites each
  *    multi-file group as one parquet file (one task per group reads
  *    exactly its files — narrow, shuffle-free) and keeps the
  *    singleton groups' files as they are, so an already-compacted table
  *    is a no-op. A reader sees the table before or after the commit,
  *    never both; the replaced originals are removed by the commit after
  *    it (StoreManifest's retention rule).
  *
  * Correctness contract (spec-enforced): the plan partitions the file
  * set exactly; compaction conserves row count and an order-independent
  * content checksum; the commit has exactly one new file per multi-file
  * group.
  */
object CompactionPlanner {

  /** One planned file and the group the packer put it in. */
  case class PlannedFile(file: StoreFile, group: Int)

  /** Per-file bytes and rows of the newest snapshot at `dir`: columns
    * (path, bytes, rows), path-ordered, paths relative to `dir`. The row
    * counts come from a distributed aggregation over `input_file_name()`
    * — file-count-bound output, corpus-bound scan (which the planner does
    * NOT need: [[plan]] reads only the manifest; call this for the audit
    * report). */
  def fileReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = StoreManifest.snapshot(s, dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val sizes = snap.files.map(f => (new org.apache.hadoop.fs.Path(root, f.path).toUri.getPath, f.path, f.size))
      .toDF("abs", "path", "bytes")
    val rows = StoreManifest.read(s, dir, snap)
      .groupBy(regexp_replace(input_file_name(), "^file:/+", "/").as("abs"))
      .agg(count(lit(1)).as("rows"))
    sizes.join(rows, Seq("abs"), "left")
      .select(col("path"), col("bytes"), coalesce(col("rows"), lit(0L)).as("rows"))
      .orderBy("path")
  }

  /** First-fit-decreasing pack of the snapshot's files into groups of at
    * most `targetBytes` (a file >= target gets its own group; a group
    * holds files of one partition). Deterministic: files are considered
    * largest-first with a path tiebreak; each lands in the
    * lowest-numbered group with room. */
  def plan(snap: StoreSnapshot, targetBytes: Long): Seq[PlannedFile] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val groups = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    snap.files.sortBy(f => (-f.size, f.path)).map { f =>
      val g = groups.indexWhere { case (key, fill) => key == f.partition && fill + f.size <= targetBytes }
      val gid = if (f.size >= targetBytes || g < 0) { groups += ((f.partition, f.size)); groups.length - 1 }
                else { groups(g) = (f.partition, groups(g)._2 + f.size); g }
      PlannedFile(f, gid)
    }
  }

  /** Execute a plan of `base` (the table at `dir`) as one commit: every
    * multi-file group's rows are written as one new file, and the next
    * version names those files plus the singleton groups' files. Returns
    * the committed snapshot, or `base` itself when no group has two
    * files. */
  def compact(s: SparkSession, dir: String, base: StoreSnapshot,
      planned: Seq[PlannedFile]): StoreSnapshot = {
    val groups = planned.groupBy(_.group).toSeq.sortBy(_._1).map(_._2.map(_.file)).filter(_.length > 1)
    if (groups.isEmpty) base
    else {
      val replaced = groups.flatten.toSet
      val parts = groups.map(g => StoreManifest.read(s, dir, base.copy(files = g)).coalesce(1))
      // one task per group: a Dataset union of single-partition frames is
      // planned as a single partition, so the groups join at the RDD level
      val rows = s.createDataFrame(s.sparkContext.union(parts.map(_.rdd)), parts.head.schema)
      StoreManifest.write(s, dir, rows, base.partitionColumn, Some(base), keep = f => !replaced(f))
    }
  }
}
