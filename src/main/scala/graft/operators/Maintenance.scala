package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.{CompactionPlanner, SchemaDiff, StoreManifest}

/** p9: the TABLE-MAINTENANCE LOOP as one auditable ledger query — the
  * layout/metadata half of a 100 TB lake deployment (Iceberg
  * `rewrite_data_files` + snapshot expiry + schema-evolution review;
  * the reference never needs it because Mongo hides layout) driven
  * END-TO-END and reported as the receipt a platform team reviews:
  *
  *   fragment → [[CompactionPlanner.plan]] → compact-commit →
  *   integrity read-back → evolve-commit (whose retention removes the
  *   compaction's orphans) → [[SchemaDiff]] verdict on the evolution.
  *
  * The loop RUNS for real against a scratch [[StoreManifest]] table
  * copied from `documents` (fragmented into [[P9Files]]
  * range-partitioned files — the streaming-ingest small-file
  * pathology), and the ledger carries two kinds of rows, split
  * deliberately:
  *
  *  - **Integrity rows** (rows, id/char modular checksums — the q42
  *    overflow-free receipts) are measured by READING BACK the
  *    compacted snapshot, and the DuckDB oracle derives the same values
  *    from the source `documents` table: equality across engines IS
  *    the proof that plan∘compact conserved every row.
  *  - **Loop-shape rows** (file/group/orphan counts, the schema
  *    verdict) are DEFINED constants of this query's construction
  *    (P9Files fragments, one all-fits bin, the planted
  *    drop-column/add-column evolution); the Spark side measures each
  *    from the real filesystem effects — the files each commit names,
  *    an orphan that survived retention, or a diff row that went missing
  *    flips the measured value off its documented constant and the
  *    driver's hash compare catches it.
  *
  * Scale: planning reads only the manifest; the only corpus-sized work
  * is the group-scoped shuffle-free rewrite, the evolved rewrite and the
  * one read-back aggregate — the cost profile a real OPTIMIZE job has.
  * The scratch directory is per-invocation (no cross-run state) and
  * removed before returning.
  */
object Maintenance {

  /** Fragment count for the small-file pathology fixture. */
  val P9Files = 8

  /** q42's modular-receipt prime. */
  val P9ChecksumP = 1000000007L

  private def modSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((sum((c % P9ChecksumP).cast("decimal(38,0)")) % P9ChecksumP))
      .cast("long")

  def p9MaintenanceLoop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-p9-").toString
    val table = s"$scratch/table"
    try {
      // 1. the pathology: a streaming ingest left P9Files small files
      val v1 = StoreManifest.write(s, table, Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .repartitionByRange(P9Files, col("doc_id")), None, None, keep = _ => false)
      val nFiles = CompactionPlanner.fileReport(s, table).count()
      // 2-4. plan (all-fits target → one group), compact as one commit
      val planned = CompactionPlanner.plan(v1, Long.MaxValue / 4)
      val nGroups = planned.map(_.group).distinct.size.toLong
      val nSingle = planned.groupBy(_.group).count(_._2.size == 1).toLong
      val v2 = CompactionPlanner.compact(s, table, v1, planned)
      val rewritten = v2.files.count(f => !v1.files.contains(f)).toLong
      val orphans = v1.files.filterNot(v2.files.contains)
      // 5. integrity read-back of the compacted snapshot — the rows the
      // oracle derives from the source table
      val back = StoreManifest.read(s, table, v2)
      val integ = back.agg(count(lit(1)).as("n"),
        modSum(col("doc_id")).as("idc"), modSum(col("n_chars")).as("cc"))
        .head()
      // 6. planted schema evolution committed as the next version: drop
      // `source` (breaking), add a nullable derived column (compatible).
      // Its retention deletes the files the compaction superseded.
      val v3 = StoreManifest.write(s, table, back.drop("source")
        .withColumn("quality_ppm", (col("n_chars") % lit(1000000L)).cast("long")),
        None, Some(v2), keep = _ => false)
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(s.sparkContext.hadoopConfiguration)
      val deleted = orphans.count(f => !fs.exists(new org.apache.hadoop.fs.Path(table, f.path))).toLong
      // 7. the review of the evolution, between the two committed schemas
      val changes = SchemaDiff.diff(
        StoreManifest.read(s, table, v2).schema, StoreManifest.read(s, table, v3).schema)
      // step names are part of the oracle's rows: `promote` is the
      // compaction's commit, `vacuum` its retention
      val ledger = Seq(
        ("fragment", "n_files", nFiles),
        ("plan", "n_groups", nGroups),
        ("plan", "n_singletons", nSingle),
        ("compact", "groups_rewritten", rewritten),
        ("promote", "live_files", v2.files.size.toLong),
        ("vacuum", "orphans", orphans.size.toLong),
        ("vacuum", "deleted", deleted),
        ("integrity", "rows", integ.getLong(0)),
        ("integrity", "id_checksum", integ.getLong(1)),
        ("integrity", "char_checksum", integ.getLong(2)),
        ("schema", "n_changes", changes.size.toLong),
        ("schema", "n_breaking", changes.count(_.breaking).toLong),
        ("schema", "compatible", if (changes.exists(_.breaking)) 0L else 1L))
      ledger.toDF("step", "metric", "value").orderBy("step", "metric")
    } finally {
      // scratch is per-invocation; best-effort recursive removal
      val root = new org.apache.hadoop.fs.Path(scratch)
      try root.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(root, true)
      catch { case _: Throwable => () }
    }
  }

  val p9Sql: String =
    s"""WITH integ AS (
       | SELECT count(*) AS n,
       |  cast(sum(doc_id % $P9ChecksumP) % $P9ChecksumP AS bigint) AS idc,
       |  cast(sum(n_chars % $P9ChecksumP) % $P9ChecksumP AS bigint) AS cc
       | FROM documents),
       |ledger AS (
       | SELECT * FROM (VALUES
       |  ('fragment', 'n_files', ${P9Files}),
       |  ('plan', 'n_groups', 1),
       |  ('plan', 'n_singletons', 0),
       |  ('compact', 'groups_rewritten', 1),
       |  ('promote', 'live_files', 1),
       |  ('vacuum', 'orphans', ${P9Files}),
       |  ('vacuum', 'deleted', ${P9Files})) AS t(step, metric, value)
       | UNION ALL SELECT 'integrity', 'rows', n FROM integ
       | UNION ALL SELECT 'integrity', 'id_checksum', idc FROM integ
       | UNION ALL SELECT 'integrity', 'char_checksum', cc FROM integ
       | UNION ALL SELECT * FROM (VALUES
       |  ('schema', 'n_changes', 2),
       |  ('schema', 'n_breaking', 1),
       |  ('schema', 'compatible', 0)) AS u(step, metric, value))
       |SELECT step, metric, cast(value AS bigint) AS value
       |FROM ledger ORDER BY step, metric""".stripMargin
}
