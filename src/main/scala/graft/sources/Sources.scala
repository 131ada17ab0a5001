package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface beyond the driver's parquet tables.
  *
  * The reference ingests user files from S3 (customTrainDataController.js:44,
  * lib/s3.js) and persists rows to Mongo/Postgres; the Spark-native
  * equivalents are schema'd file sources and partitioned columnar sinks.
  * Explicit schemas everywhere — schema inference means a full extra
  * pass over 100 TB.
  */
object Sources {

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** JSONL corpus ingest (the standard interchange format for training
    * corpora). Explicit schema: no inference pass, malformed rows land in
    * a corrupt-record column instead of failing the job. */
  def readDocumentsJsonl(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(documentSchema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** CSV ingest with explicit schema + header. */
  def readEventsCsv(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("ts_us", LongType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = true),
        StructField("value", DoubleType, nullable = true))))
      .option("header", "true")
      .csv(path)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

  /** Date-partitioned parquet sink — the layout that makes every
    * downstream date-range query prune partitions instead of scanning
    * 100 TB. Writer-side: one directory per (day), files sized by the
    * upstream partitioning. */
  def writeEventsPartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(path)

  /** Read back with partition pruning: a day filter on this table reads
    * only that day's directory (verify via PushedFilters/PartitionFilters
    * in .explain). */
  def readEventsPartitioned(s: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(s, path)

  /** ORC twin of the parquet sink — the other columnar format a data
    * platform exchanges with Hive/Trino estates (Spark's reader/writer
    * is built in; same partition-pruned layout, same predicate/column
    * pushdown surface — the spec pins PushedFilters on the read back).
    * Interchange matters at 100 TB: re-encoding a corpus because a
    * consumer reads only ORC is a full extra pass. */
  def writeEventsPartitionedOrc(df: DataFrame, path: String): Unit =
    df.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .orc(path)

  /** Read the ORC sink back (partition pruning + pushdown intact). */
  def readEventsPartitionedOrc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  /** Raw media-file ingest via Spark's `binaryFile` source — the
    * Spark-native shape of the reference's S3 uploads (lib/s3.js +
    * multer: opaque blobs addressed by path). Each file becomes one row
    * (path, modificationTime, length, content); `pathGlobFilter` prunes
    * by extension at LISTING time, so non-matching files are never
    * opened, and `maxPartitionBytes` governs how many blobs land in one
    * task — the only knob multimodal decode needs at 100 TB.
    *
    * Feeds straight into the MultimodalDecode pipeline: path-derived
    * asset ids + the content column as the decode payload. */
  def readMediaFiles(s: SparkSession, path: String, glob: String = "*.bin"): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
        col("length"), col("content"))
}
