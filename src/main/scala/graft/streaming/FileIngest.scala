package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType
import graft.sources.{Sources, VectorStoreSink}

/** Continuous file-arrival ingestion: the streaming twin of the batch
  * corpus ingest (customTrainDataController.js uploads files to S3 and
  * indexes them on request; at scale that is a WATCHED landing directory,
  * not a request handler).
  *
  * JSONL documents land in a directory → Structured Streaming file
  * source discovers each new file exactly once (checkpointed) → rows
  * parse against the explicit schema with PERMISSIVE quarantine (a
  * corrupt line lands in the quarantine sink, never kills the stream) →
  * valid documents run the map-only chunk → embed → LSH-bucket pipeline
  * (graft.operators.RagPipeline.ingest) → appended to the
  * bucket-partitioned on-disk vector store through its own manifest
  * commit (graft.sources.VectorStoreSink.append, once per micro-batch id),
  * so streamed and batch-written stores have one read path.
  *
  * Scale notes: every stage is stateless map work, so the stream needs no
  * watermark and no state store; `maxFilesPerTrigger` bounds per-batch
  * work; each batch adds new files per bucket directory so
  * retrieval-side pruning is unaffected by ingestion cadence.
  */
object FileIngest {

  def readDocumentsStream(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema(Sources.documentSchema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", 1)
      .json(dir)

  /** (valid documents, quarantined raw lines). */
  def splitQuarantine(raw: DataFrame): (DataFrame, DataFrame) = {
    val ok = raw.filter(col("_corrupt_record").isNull && col("text").isNotNull)
      .drop("_corrupt_record")
    // the quarantine projection keeps a parsed column alongside the raw
    // line: Spark disallows queries that read ONLY the corrupt-record
    // column from a raw file source ([UNSUPPORTED_FEATURE.QUERY_ONLY_
    // CORRUPT_RECORD_COLUMN])
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"), col("doc_id"))
    (ok, bad)
  }

  /** Start the continuous index build; returns (index query, quarantine
    * query). Both are exactly-once: the quarantine through its checkpoint,
    * the store through its checkpoint plus the batch id in its manifest. */
  def start(s: SparkSession, inDir: String, storeDir: String,
      quarantineDir: String, checkpointDir: String): (StreamingQuery, StreamingQuery) = {
    val (ok, bad) = splitQuarantine(readDocumentsStream(s, inDir))
    val index = graft.operators.RagPipeline.ingest(ok)
    val storeQ = index.writeStream
      .foreachBatch((batch: DataFrame, id: Long) => VectorStoreSink.append(batch, storeDir, id))
      .option("checkpointLocation", s"$checkpointDir/store")
      .outputMode("append").start()
    val quarantineQ = bad.writeStream
      .format("parquet").option("path", quarantineDir)
      .option("checkpointLocation", s"$checkpointDir/quarantine")
      .outputMode("append").start()
    (storeQ, quarantineQ)
  }
}
