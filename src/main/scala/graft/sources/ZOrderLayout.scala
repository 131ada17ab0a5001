package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ORDER data layout for a parquet table directory — the multi-column
  * clustering a 100 TB lake runs so that file-level min/max statistics
  * prune scans on EVERY query dimension, not just the leading sort key
  * (Delta's `OPTIMIZE ... ZORDER BY`, Iceberg's sort-order rewrite with
  * a Z curve; the published technique is Morton-interleaving range-
  * bucket ids so nearby (a, b) pairs land in the same files).
  *
  * A linear sort on `a` gives perfect pruning on `a` and NONE on `b` —
  * a probe on `b` alone intersects every file's [min, max]. The Z curve
  * trades a little of `a`'s locality for locality in both: each file
  * covers a contiguous z-range = a small rectangle in (a, b) space, so
  * single-dimension probes on either column skip most files.
  *
  * Pieces (all deterministic, nothing driver-side beyond one-row aggs):
  *  - [[boundaries]]: per-column range-bucket cutoffs — (2^bits − 1)
  *    interior approx-quantiles in ONE one-row aggregate (rank buckets,
  *    not linear width buckets, so skew cannot collapse the curve — the
  *    same reason Delta range-partitions its z-cube ids).
  *  - [[withZ]]: bucket ids via a codegen'd size(filter(...)) over the
  *    broadcast cutoff array, then [[interleave]] — the Morton number as
  *    a static shift/and/or expression tree (bits × cols terms, fully
  *    whole-stage-codegen).
  *  - [[rewrite]]: range-repartition on z + within-partition sort +
  *    write — each output file owns one contiguous z-range. The only
  *    corpus-wide movement is the ONE range exchange every layout
  *    rewrite necessarily pays.
  *  - [[statsReport]] / [[candidates]]: the file-skipping audit — per
  *    file min/max per column (distributed, keyed by input_file_name),
  *    and the count of files a [lo, hi] probe cannot skip.
  */
object ZOrderLayout {

  /** Per-column cutoffs: (2^bits − 1) interior quantiles as one one-row
    * frame with an array column `__bnd_<col>` per layout column. */
  def boundaries(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    require(bits >= 1 && bits * cols.size <= 62, "z-value must fit a long")
    val b = 1 << bits
    val ps = (1 until b).map(i => i.toDouble / b)
    df.select(cols.map(c =>
      percentile_approx(col(c).cast("double"), typedLit(ps), lit(10000))
        .as(s"__bnd_$c")): _*)
  }

  /** Morton interleave of `ids` (each in [0, 2^bits)): bit i of id j
    * lands at position i·k + j. A static expression tree — no UDF. */
  def interleave(ids: Seq[Column], bits: Int): Column =
    (0 until bits).flatMap { i =>
      ids.zipWithIndex.map { case (id, j) =>
        shiftleft(shiftright(id, i).bitwiseAND(lit(1L)), i * ids.size + j)
      }
    }.reduce(_.bitwiseOR(_))

  /** The input plus a `__z` Morton column. Bucket id = how many cutoffs
    * the value exceeds (nulls bucket at 0), counted by a codegen'd
    * size(filter(...)) over the broadcast cutoff arrays. */
  def withZ(df: DataFrame, cols: Seq[String], bits: Int): DataFrame = {
    val joined = df.crossJoin(broadcast(boundaries(df, cols, bits)))
    val ids = cols.map { c =>
      coalesce(
        size(filter(col(s"__bnd_$c"), b => col(c).cast("double") > b)).cast("long"),
        lit(0L))
    }
    joined.withColumn("__z", interleave(ids, bits))
      .drop(cols.map(c => s"__bnd_$c"): _*)
  }

  /** Rewrite `inDir` z-ordered on `cols` into `nFiles` files at
    * `outDir`: ONE range exchange on z, within-partition sort, write. */
  def rewrite(s: SparkSession, inDir: String, outDir: String,
      cols: Seq[String], bits: Int, nFiles: Int): Unit =
    withZ(graft.Tables.parquet(s, inDir), cols, bits)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** Per-file min/max for each layout column — the statistics a format
    * catalog would serve; recomputed distributed (file-count-bound
    * output, executors read only their own splits). */
  def statsReport(s: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    graft.Tables.parquet(s, dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("file")
  }

  /** Files a [lo, hi] probe on `c` CANNOT skip by min/max — the
    * skipping-effectiveness measure (lower is better). */
  def candidates(report: DataFrame, c: String, lo: Double, hi: Double): Long =
    report.filter(col(s"min_$c").cast("double") <= hi &&
      col(s"max_$c").cast("double") >= lo).count()
}
