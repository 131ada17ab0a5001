package graft.sources

import graft.SparkSpec
import graft.operators.RagPipeline
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import java.nio.file.Files

class VectorStoreSinkSpec extends SparkSpec {

  test("bucket-partitioned store: pruned retrieval equals in-memory retrieval") {
    import spark.implicits._
    val index = RagPipeline.ingest(
      graft.Tables.documents(spark, sfDir).select("doc_id", "text")).cache()
    val path = Files.createTempDirectory("graft-vstore").toFile.getAbsolutePath + "/index"
    VectorStoreSink.write(index, path)

    // file-backed query batch: DPP prunes it (the in-memory batch of the
    // next test is folded into a local relation and prunes statically)
    val qpath = Files.createTempDirectory("graft-vstore-q").toFile.getAbsolutePath + "/queries"
    index.select("chunk").limit(2).collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getString(0)) }.toSeq.toDF("query_id", "question")
      .write.parquet(qpath)
    val queries = spark.read.parquet(qpath)

    val fromDisk = VectorStoreSink.retrieve(spark, path, queries, RagPipeline.TopKChunks)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val inMemory = RagPipeline.retrieve(index, queries)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(fromDisk == inMemory && fromDisk.nonEmpty)

    // the scan must carry a DYNAMIC partition-pruning filter on bucket:
    // the broadcast query join against the partition column is the
    // pruning mechanism for a batch that is not already on the driver
    val q = queries.limit(1)
    val plan = VectorStoreSink.retrieve(spark, path, q, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on bucket visible:\n${plan.take(2000)}")
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  test("in-memory query batch: equals in-memory retrieval, reads only its buckets, no recompiles") {
    import spark.implicits._
    val index = RagPipeline.ingest(
      graft.Tables.documents(spark, sfDir).select("doc_id", "text")).cache()
    val path = Files.createTempDirectory("graft-vstore-mem").toFile.getAbsolutePath + "/index"
    VectorStoreSink.write(index, path)
    val chunks = index.select("chunk").distinct().orderBy("chunk").limit(4)
      .collect().map(_.getString(0)).toSeq
    // the shape loadbench and the ingest callers pass: a driver-side Seq
    def batch(qs: Seq[String]) = qs.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("query_id", "question")

    val queries = batch(chunks.take(2))
    val df = VectorStoreSink.retrieve(spark, path, queries, RagPipeline.TopKChunks)
    val fromDisk = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val inMemory = RagPipeline.retrieve(index, queries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(fromDisk == inMemory && fromDisk.nonEmpty)

    // the scan read only the files of the queries' buckets
    val read = scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    val total = StoreManifest.snapshot(spark, path).files.size
    assert(read > 0 && read < total, s"read $read of $total files")

    // other questions, same plan shape: no new generated classes. (The
    // first batch whose questions share a bucket compiles the join build
    // for non-unique keys once, so the warm-up holds one such batch.)
    def run(qs: Seq[String]) = VectorStoreSink.retrieve(spark, path, batch(qs), 3).collect()
    run(chunks.slice(2, 4)); run(Seq(chunks(0), chunks(0), chunks(1)))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(chunks.slice(1, 3)); run(Seq(chunks(3), chunks(0), chunks(2)))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a repeated retrieve compiled new code")
  }
}
