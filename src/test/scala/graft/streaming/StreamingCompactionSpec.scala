package graft.streaming

import graft.SparkSpec
import graft.sources.{CompactionPlanner, StoreManifest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** StreamingCompaction: ingest appends build file pressure, the
  * threshold trips the full compaction loop inside the batch callback,
  * and the table conserves every ingested row throughout. */
class StreamingCompactionSpec extends SparkSpec {

  test("pressure trips compaction mid-stream; content conserves; files shrink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val root = java.nio.file.Files.createTempDirectory("graft-sc").toString
    val (table, ckpt) = (s"$root/table", s"$root/ckpt")

    val mem = MemoryStream[(Long, String)]
    val (q, compactions) = StreamingCompaction.start(spark,
      mem.toDF().toDF("id", "payload"), table, ckpt,
      maxFiles = 6, targetBytes = 512L * 1024)

    val batches = (0 until 8).map(b =>
      ((b * 100) until (b * 100 + 50)).map(i => (i.toLong, s"row-$i")))
    batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    q.stop()

    assert(compactions.get() >= 1, "file pressure must have tripped at least once")
    // conservation: every ingested row present exactly once
    val got = graft.Tables.parquet(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = batches.flatten.sorted
    assert(got == want, "table must hold exactly the ingested rows")
    assert(StoreManifest.snapshot(spark, table).batchId.contains(7L))
    // the last maintenance pass left the listing at/below pressure + the
    // appends that followed it
    val files = CompactionPlanner.fileReport(spark, table).count()
    assert(files < 8L * spark.sparkContext.defaultParallelism,
      s"compaction must have collapsed the per-batch file spray ($files)")

    // a second identical check with no pressure is a no-op
    val ran = StreamingCompaction.maintainIfPressured(spark, table,
      maxFiles = 1000, targetBytes = 512L * 1024)
    assert(!ran, "under-threshold tables must not be rewritten")
  }
}
