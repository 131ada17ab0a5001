package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for a parquet table directory — the layout
  * maintenance a 100 TB warehouse runs continuously (Iceberg's
  * `rewrite_data_files` / Delta's OPTIMIZE; the reference never needs
  * it because Mongo hides layout, but a lake deployment lives or dies
  * by it: a streaming ingest that commits every minute leaves thousands
  * of KB-scale files, and every downstream scan then pays one open +
  * footer parse + seek per file).
  *
  * Three surfaces:
  *  - [[fileReport]]: per data file, bytes and rows — bytes from one
  *    Hadoop FileSystem listing (the session's configuration, so
  *    HDFS/S3 roots resolve — the VectorStoreMaintenance.currentGen
  *    rule), rows from a DISTRIBUTED footer-group count keyed by
  *    `input_file_name()` (executors read their own splits; the driver
  *    never opens a data file).
  *  - [[plan]]: deterministic first-fit-decreasing bin pack of the
  *    files into target-byte groups (bytes desc, path asc tiebreak).
  *    Planning is metadata-bound — O(files) state on the driver, the
  *    same scale any table-format commit already holds there — and
  *    files at/over the target get a singleton group untouched.
  *  - [[compact]]: rewrite each multi-file group as ONE parquet file
  *    (group-scoped `Tables.parquet(s, files: _*).coalesce(1)` — a narrow,
  *    shuffle-free rewrite; singleton groups are not rewritten at all,
  *    so an already-compacted table is a no-op).
  *  - [[promote]] / [[vacuum]]: the commit-and-GC half of the loop —
  *    rename the rewritten files into the table (returning the new
  *    LIVE manifest) and report-or-delete the orphaned originals.
  *
  * Correctness contract (spec-enforced): the plan partitions the file
  * set exactly; compaction conserves row count and an order-independent
  * content checksum; the output has exactly one file per multi-file
  * group.
  */
object CompactionPlanner {

  /** One planned file: size from the listing, group from the packer. */
  case class PlannedFile(path: String, bytes: Long, group: Int)

  private def dataFiles(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(path).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toUri.getPath, st.getLen))
      .sortBy(_._1)
  }

  /** Per-file bytes and rows: columns (path, bytes, rows), path-ordered.
    * The row counts come from a distributed aggregation over
    * `input_file_name()` — file-count-bound output, corpus-bound scan
    * (which the planner does NOT need: [[plan]] reads only the listing;
    * call this for the audit report). */
  def fileReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = dataFiles(s, dir).toDF("path", "bytes")
    val rows = graft.Tables.parquet(s, dir)
      .groupBy(regexp_replace(input_file_name(), "^file:/+", "/").as("path"))
      .agg(count(lit(1)).as("rows"))
    sizes.join(rows, Seq("path"), "left")
      .select(col("path"), col("bytes"), coalesce(col("rows"), lit(0L)).as("rows"))
      .orderBy("path")
  }

  /** First-fit-decreasing pack of the directory's data files into
    * groups of at most `targetBytes` (a file >= target gets its own
    * group). Deterministic: files are considered largest-first with a
    * path tiebreak; each lands in the lowest-numbered group with room. */
  def plan(s: SparkSession, dir: String, targetBytes: Long): Seq[PlannedFile] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val files = dataFiles(s, dir).sortBy { case (p, b) => (-b, p) }
    val groupFill = scala.collection.mutable.ArrayBuffer.empty[Long]
    files.map { case (p, b) =>
      val g = groupFill.indexWhere(_ + b <= targetBytes)
      val gid = if (b >= targetBytes || g < 0) { groupFill += b; groupFill.length - 1 }
                else { groupFill(g) += b; g }
      PlannedFile(p, b, gid)
    }
  }

  /** Execute a plan: every multi-file group is rewritten as one file
    * under `outDir/group=<g>`; singleton groups are left in place and
    * reported as skipped. Returns (group, n_files, rewritten). */
  def compact(s: SparkSession, dir: String, outDir: String,
      targetBytes: Long): Seq[(Int, Int, Boolean)] = {
    val planned = plan(s, dir, targetBytes)
    planned.groupBy(_.group).toSeq.sortBy(_._1).map { case (g, fs) =>
      val rewrite = fs.length > 1
      if (rewrite)
        graft.Tables.parquet(s, fs.map(_.path): _*).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/group=$g")
      (g, fs.length, rewrite)
    }
  }

  /** PROMOTE a compaction into the table directory: each multi-file
    * group's rewritten data file moves in as `compacted-<g>.parquet`
    * (deterministic name; Hadoop rename — the same-FS atomic commit a
    * table format relies on), while singleton-group originals stay put.
    * Returns the LIVE set after promotion — moved files + singleton
    * originals — exactly what a format would record in the new snapshot
    * manifest; the rewritten groups' originals are now orphans awaiting
    * [[vacuum]]. Takes the SAME plan the compaction ran with. */
  def promote(s: SparkSession, dir: String, outDir: String,
      planned: Seq[PlannedFile]): Set[String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val byGroup = planned.groupBy(_.group)
    val moved = byGroup.toSeq.sortBy(_._1).collect {
      case (g, fs0) if fs0.length > 1 =>
        val src = new org.apache.hadoop.fs.Path(s"$outDir/group=$g")
        val fs = src.getFileSystem(conf)
        val part = fs.listStatus(src).filter(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet")).head.getPath
        val dst = new org.apache.hadoop.fs.Path(s"$dir/compacted-$g.parquet")
        require(fs.rename(part, dst), s"promotion rename failed for group $g")
        dst.toUri.getPath
    }
    val singles = byGroup.values.filter(_.length == 1).map(_.head.path)
    (moved ++ singles).toSet
  }

  /** Orphan-file GC: every data file under `dir` NOT in `live`. With
    * `dryRun` (the default) nothing is touched — the report IS the
    * audit a deployment reviews before retention deletes; otherwise the
    * orphans are deleted. Returns (path, bytes, deleted), path-ordered.
    * Scope is deliberately narrow: only immediate `*.parquet` children
    * of `dir` are ever considered (the [[dataFiles]] listing), so a
    * mis-built live set cannot reach past the table directory. */
  def vacuum(s: SparkSession, dir: String, live: Set[String],
      dryRun: Boolean = true): Seq[(String, Long, Boolean)] = {
    val conf = s.sparkContext.hadoopConfiguration
    dataFiles(s, dir).filterNot { case (p, _) => live.contains(p) }
      .map { case (p, b) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val deleted = !dryRun && hp.getFileSystem(conf).delete(hp, false)
        (p, b, deleted)
      }
  }
}
