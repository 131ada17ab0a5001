package graft

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import graft.sources.StoreManifest

/** Column-pruned parquet loaders for the driver-generated test tables.
  *
  * At 100 TB these reads are the dominant cost: every query should go
  * through here and immediately `.select(...)` the columns it needs so
  * Catalyst prunes the scan (`ReadSchema`) and pushes filters
  * (`PushedFilters`) into the parquet reader.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Every engine parquet read goes through here; both of its decisions
    * come from one listing of the paths. A directory holding a committed
    * `_manifest/` reads as its newest [[StoreManifest]] snapshot. Any
    * other read is `spark.read.parquet` without its schema-inference job
    * (one Spark job per call, `ParquetUtils.inferSchema`, only to read a
    * footer — at interactive sizes a large share of a read): the same
    * footer is read on the driver and handed to Spark, so the scan plans
    * with no job and `.schema` is exactly what Spark's read resolves to.
    * Layouts it does not recognise fall back to Spark's own inference
    * (see [[footerSchema]]). */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val entries = listing(paths, hadoopConf)
    val committed = paths match {
      case Seq(root) if entries.exists(_.exists(_.getPath.getName == StoreManifest.ManifestDir)) =>
        StoreManifest.latest(spark, root)
      case _ => None
    }
    committed match {
      case Some(snap) => StoreManifest.read(spark, paths.head, snap)
      case None => entries.flatMap(footerSchema(spark, _, hadoopConf)).fold(spark.read)(spark.read.schema)
        .parquet(paths: _*)
    }
  }

  /** What each path names: the path itself when it is a file, else its
    * entries. None when a path is missing (a glob is one). */
  private def listing(paths: Seq[String], hadoopConf: Configuration): Option[Seq[FileStatus]] =
    Some(paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoopConf)
      val status = try fs.getFileStatus(path) catch { case _: FileNotFoundException => return None }
      if (status.isFile) Seq(status) else fs.listStatus(path).toSeq
    })

  /** The schema Spark's inference would take, read from the one footer it
    * would touch with `mergeSchema` off: `_common_metadata`, else
    * `_metadata`, else the first data file in path order, after skipping
    * `_`/`.` names as Spark's listing does. Spark's own converter turns it
    * into a `StructType` under the session's settings (`binaryAsString`,
    * `int96AsTimestamp`, `inferTimestampNTZ`, `nanosAsLong`), as inference
    * does. None (Spark's own read) for no data file, partition
    * subdirectories, or schema merging. */
  private def footerSchema(spark: SparkSession, entries: Seq[FileStatus],
      hadoopConf: Configuration): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val leaves = entries.filterNot(f => hiddenName(f.getPath.getName))
    if (leaves.exists(_.isDirectory)) return None
    val sorted = leaves.sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong))
      }
  }

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  /** events.ts has shipped in two physical layouts: a NANOSECOND parquet
    * timestamp (which Spark's reader rejects — [PARQUET_TYPE_ILLEGAL] —
    * so it is read as a raw long via legacy nanosAsLong and floor-divided
    * to microseconds, the same truncation DuckDB applies) and a plain
    * MICROSECOND timestamp (read natively as TIMESTAMP_NTZ). Dispatch on
    * the type the reader actually produced; both paths end at the same
    * session-TZ TimestampType instant (sessions pin UTC), so every
    * downstream query and oracle is layout-agnostic. */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, raise_error, when, lit, concat}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // A long-typed ts only arrives via the nanosAsLong legacy read of
        // a NANOSECOND parquet timestamp. Guard the unit assumption
        // instead of silently mis-scaling a future plain-int64 layout:
        // epoch-nanos for any plausible event date is >= 1e17 (~1973);
        // epoch-micros/millis/seconds are orders of magnitude below.
        // The check is one codegen'd comparison per row and fails loudly.
        raw.withColumn("ts",
          when(col("ts") >= lit(100000000000000000L),
            timestamp_micros(expr("ts DIV 1000L")))
            .otherwise(raise_error(concat(
              lit("events.ts: long value too small for epoch-nanoseconds; unrecognized int64 layout: "),
              col("ts").cast("string")))
              .cast(org.apache.spark.sql.types.TimestampType)))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
