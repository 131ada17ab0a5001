package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.{CompactionPlanner, StoreManifest}

/** Streaming SMALL-FILE MAINTENANCE — the deployment loop a continuous
  * ingest needs around [[graft.sources.CompactionPlanner]]: every
  * micro-batch appends a fresh parquet file (or several), so a
  * minute-cadence stream manufactures thousands of KB-scale files per
  * day; the fix in every lakehouse deployment is an OPTIMIZE pass wired
  * to file-count pressure, serialized with the ingest commits so the
  * rewrite never races an append.
  *
  * Shape: `foreachBatch` appends the batch as one [[StoreManifest]]
  * commit that records the batch id (so a replayed batch commits once),
  * then — inside the same serialized callback, exactly where Delta
  * deployments hang their auto-compaction — checks the snapshot's
  * data-file count and, past the threshold, plans and runs the
  * compaction, itself one commit. A reader sees each commit whole;
  * conservation is CompactionPlanner's spec'd contract.
  *
  * Scale notes: the pressure check reads the manifest (metadata-bound);
  * the compaction itself is group-scoped narrow reads, so maintenance
  * cost is proportional to the small files it removes, not to the
  * table. State: none beyond the manifest (no watermark, no state
  * store).
  */
object StreamingCompaction {

  /** Append micro-batch `batchId` to the table at `tableDir`, unless the
    * table already absorbed it. */
  def append(batch: DataFrame, tableDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val base = StoreManifest.latest(s, tableDir)
    if (!base.flatMap(_.batchId).exists(_ >= batchId))
      StoreManifest.write(s, tableDir, batch, None, base, keep = _ => true, batchId = Some(batchId))
  }

  /** One pressure check: if the table at `tableDir` holds more than
    * `maxFiles` data files, compact it at `targetBytes`. Returns true iff
    * a compaction ran. */
  def maintainIfPressured(s: SparkSession, tableDir: String,
      maxFiles: Int, targetBytes: Long): Boolean = {
    val snap = StoreManifest.snapshot(s, tableDir)
    val planned = CompactionPlanner.plan(snap, targetBytes)
    if (planned.length <= maxFiles ||
        !planned.groupBy(_.group).exists(_._2.length > 1)) false
    else {
      CompactionPlanner.compact(s, tableDir, snap, planned)
      true
    }
  }

  /** Start the ingest-with-maintenance loop: append each micro-batch to
    * `tableDir`, then run the pressure check. Returns the query and a
    * counter of compactions run. */
  def start(s: SparkSession, source: DataFrame, tableDir: String,
      checkpointDir: String, maxFiles: Int,
      targetBytes: Long): (StreamingQuery, AtomicInteger) = {
    val compactions = new AtomicInteger(0)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, tableDir, batchId)
        if (maintainIfPressured(s, tableDir, maxFiles, targetBytes))
          compactions.incrementAndGet()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .start()
    (q, compactions)
  }
}
