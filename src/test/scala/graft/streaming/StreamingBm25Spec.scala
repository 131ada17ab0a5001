package graft.streaming

import graft.SparkSpec
import graft.operators.Retrieval
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingBm25Spec extends SparkSpec {

  test("stored-stats batch scorer equals the in-session query on the indexed corpus") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_store").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val stored = Retrieval.t26ScoreFrom(spark, dir,
        graft.Tables.documents(spark, sfDir).select("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inSession = Retrieval.bm25Batch(
        graft.Tables.documents(spark, sfDir).select("doc_id", "text"),
        Retrieval.queryRelation(spark, Retrieval.QueryTerms))
      .drop("qid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == inSession)
  }

  test("streaming scores equal the stored-stats batch scorer, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("bm25_stream").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val idf = spark.read.parquet(s"$dir/idf")
    val stats = spark.read.parquet(s"$dir/stats")

    // in-corpus docs plus new arrivals: one with query terms, one with
    // none (dropped), one whose text repeats a single query term
    val corpusDocs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val novel = Seq(
      (900001L, "spark spark spark vector window entirely new arrival"),
      (900002L, "no relevant terms whatsoever in this one"),
      (900003L, "stream stream stream stream stream"))
    val all = corpusDocs.toSeq ++ novel

    val mem = MemoryStream[(Long, String)]
    val q = StreamingBm25.scoreAgainstStore(
        mem.toDF().toDF("doc_id", "text"), idf, stats)
      .writeStream.format("memory").queryName("bm25_stream_out")
      .outputMode("append").start()
    val (b1, b2) = all.splitAt(12)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    val got = spark.sql("select * from bm25_stream_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()

    val batch = Retrieval.t26ScoreFrom(spark, dir,
        spark.createDataFrame(all).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch,
      s"stream/batch divergence: ${(got.toSet diff batch.toSet) ++ (batch.toSet diff got.toSet)}")
    assert(!got.contains(900002L) && got.contains(900001L) && got.contains(900003L))
  }

  test("out-of-vocabulary query terms score 0 in the stream, matching the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bm25_oov").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val idf = spark.read.parquet(s"$dir/idf")
    val stats = spark.read.parquet(s"$dir/stats")
    // "zzqoov" is in the query but in no indexed document, so it is
    // absent from the stored vocabulary; a doc carrying it WITH an
    // indexed term must score as if the OOV term were not there (ANSI
    // element_at on the idf map used to throw here), and a doc carrying
    // ONLY the OOV term must be dropped like the batch scorer drops it
    val terms = Retrieval.QueryTerms :+ "zzqoov"
    val docs = Seq(
      (910001L, "spark zzqoov vector mixed arrival"),
      (910002L, "zzqoov zzqoov nothing indexed here"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamingBm25.scoreAgainstStore(
        mem.toDF().toDF("doc_id", "text"), idf, stats, terms)
      .writeStream.format("memory").queryName("bm25_oov_out")
      .outputMode("append").start()
    mem.addData(docs: _*); q.processAllAvailable()
    val got = spark.sql("select * from bm25_oov_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    val batch = Retrieval.t26ScoreFrom(spark, dir,
        docs.toDF("doc_id", "text"), terms)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch)
    assert(got.contains(910001L) && !got.contains(910002L))
    // and the OOV term contributes exactly 0: same doc scored without it
    val without = Retrieval.t26ScoreFrom(spark, dir,
        docs.toDF("doc_id", "text"), Retrieval.QueryTerms)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(910001L) == without(910001L))
  }

  test("an empty term list scores nothing and throws nowhere") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25_noterms").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val idf = spark.read.parquet(s"$dir/idf")
    val stats = spark.read.parquet(s"$dir/stats")
    val docs = Seq((920001L, "spark vector window")).toDF("doc_id", "text")
    val out = StreamingBm25.scoreAgainstStore(docs, idf, stats, Seq.empty)
    assert(out.collect().isEmpty)
  }

  test("frozen collection stats: scoring a new batch does not shift existing scores") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_frozen").toString
    Retrieval.t26StatsWrite(spark, sfDir, dir)
    val corpus = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val before = Retrieval.t26ScoreFrom(spark, dir, corpus.limit(10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // score a large novel batch too — with frozen stats the original
    // docs' scores are unchanged (no df/avgdl drift between calls)
    import spark.implicits._
    val novel = (0 until 50).map(i => (800000L + i, "spark window stream " * (i % 5 + 1))).toDF("doc_id", "text")
    Retrieval.t26ScoreFrom(spark, dir, novel).collect()
    val after = Retrieval.t26ScoreFrom(spark, dir, corpus.limit(10))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == after)
  }
}
