package graft.sources

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.{Mutations, RagPipeline}
import graft.streaming.StreamingCompaction
import org.apache.spark.sql.functions._

/** The manifest commit of every table graft rewrites: one snapshot per
  * read while appends, deletes, rewrites, compactions and rebuilds run,
  * and a write that dies before its commit leaves the previous snapshot
  * readable. */
class StoreManifestSpec extends SparkSpec {

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Every data file under the store's partition directories. */
  private def dataFiles(root: String): Set[String] =
    new File(root).listFiles().filter(d => d.isDirectory && d.getName.contains("="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
      .map(f => s"${f.getParentFile.getName}/${f.getName}").toSet

  private def ids(df: org.apache.spark.sql.DataFrame, col: String): Set[Long] =
    df.select(col).collect().map(_.getLong(0)).toSet

  private def smallStore(dir: String): Unit = {
    import spark.implicits._
    VectorStoreSink.write(Seq((1L, 0, "a"), (2L, 0, "b"), (3L, 1, "c"), (4L, 2, "d"))
      .toDF("chunk_uid", "bucket", "payload"), dir)
  }

  test("manifest round-trips through its JSON form") {
    val snap = StoreSnapshot(7L, Some("cid"),
      new org.apache.spark.sql.types.StructType().add("vec_id", "long").add("cid", "int"),
      Seq(StoreFile("3", "cid=3/part-0.parquet", 10L, 20L)),
      Some(Array(Array(0.1f, -2.5f), Array(1f / 3, 0f))), Some(4L))
    val back = StoreManifest.fromJson(StoreManifest.toJson(snap))
    assert(back.copy(codebook = None) == snap.copy(codebook = None))
    assert(back.codebook.get.map(_.toSeq).toSeq == snap.codebook.get.map(_.toSeq).toSeq)
    val plain = snap.copy(partitionColumn = None, files = Seq(StoreFile("", "part-0.parquet", 10L, 20L)),
      codebook = None, batchId = None)
    assert(StoreManifest.fromJson(StoreManifest.toJson(plain)) == plain)
  }

  test("two writers from one version: one commits, the other aborts and leaves nothing") {
    import spark.implicits._
    val dir = tmp("manifest-race")
    smallStore(dir)
    val base = StoreManifest.snapshot(spark, dir)
    val rows = Seq((9L, 3, "x")).toDF("chunk_uid", "bucket", "payload")
    StoreManifest.write(spark, dir, rows, Some("bucket"), Some(base), keep = _ => true)
    val filesAfterWin = dataFiles(dir)
    intercept[java.util.ConcurrentModificationException] {
      StoreManifest.write(spark, dir, rows, Some("bucket"), Some(base), keep = _ => true)
    }
    assert(StoreManifest.snapshot(spark, dir).version == base.version + 1)
    assert(dataFiles(dir) == filesAfterWin)
    assert(ids(StoreManifest.read(spark, dir), "chunk_uid") == Set(1L, 2L, 3L, 4L, 9L))
  }

  test("superseded files outlive one commit; a replayed stream batch commits once") {
    import spark.implicits._
    val dir = tmp("manifest-retention")
    smallStore(dir)
    val v1 = StoreManifest.snapshot(spark, dir)
    VectorStoreSink.deleteByIds(spark, dir, Seq(1L))
    // bucket 0's old file is superseded, not gone: a reader of v1 finishes
    assert(ids(StoreManifest.read(spark, dir, v1), "chunk_uid") == Set(1L, 2L, 3L, 4L))
    assert(ids(StoreManifest.read(spark, dir), "chunk_uid") == Set(2L, 3L, 4L))
    val batch = Seq((5L, 1, "e")).toDF("chunk_uid", "bucket", "payload")
    VectorStoreSink.append(batch, dir, batchId = 0L)
    // ...and is removed by the commit after the one that superseded it
    val v3 = StoreManifest.snapshot(spark, dir)
    assert(dataFiles(dir) == v3.files.map(_.path).toSet)
    VectorStoreSink.append(batch, dir, batchId = 0L)
    assert(StoreManifest.snapshot(spark, dir).version == v3.version)
    assert(ids(StoreManifest.read(spark, dir), "chunk_uid") == Set(2L, 3L, 4L, 5L))

    // the unpartitioned streamed append of StreamingCompaction, likewise
    val table = tmp("manifest-stream") + "/t"
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    StreamingCompaction.append(rows, table, batchId = 0L)
    StreamingCompaction.append(rows, table, batchId = 0L)
    StreamingCompaction.append(rows.withColumn("id", col("id") + 10), table, batchId = 1L)
    val snap = StoreManifest.snapshot(spark, table)
    assert(snap.version == 2L && snap.batchId.contains(1L) && snap.partitionColumn.isEmpty)
    assert(graft.Tables.parquet(spark, table).count() == 4L)
    assert(ids(graft.Tables.parquet(spark, table), "id") == Set(1L, 2L, 11L, 12L))
  }

  test("a write that lands files but never commits leaves the previous snapshot") {
    import spark.implicits._
    val dir = tmp("manifest-fault")
    smallStore(dir)
    val before = StoreManifest.snapshot(spark, dir)
    // the fault: data files land in the store's partition directories and
    // in a staging directory, and the manifest commit never happens
    val ghosts = Seq((1L, 0, "ghost"), (99L, 5, "ghost")).toDF("chunk_uid", "bucket", "payload")
    ghosts.write.mode("append").partitionBy("bucket").parquet(dir)
    ghosts.write.partitionBy("bucket").parquet(s"$dir/_staging/crashed")
    val orphans = dataFiles(dir) -- before.files.map(_.path)
    assert(orphans.size == 2)

    assert(StoreManifest.snapshot(spark, dir) == before)
    val df = StoreManifest.read(spark, dir)
    assert(df.filter(col("payload") === "ghost").count() == 0)
    assert(df.inputFiles.forall(f => !orphans.exists(o => f.endsWith(o))))

    // the next commit removes the orphans and the staging leftovers
    VectorStoreSink.deleteByIds(spark, dir, Seq(4L))
    assert((dataFiles(dir) & orphans).isEmpty)
    assert(!new File(s"$dir/_staging/crashed").exists())
    assert(ids(StoreManifest.read(spark, dir), "chunk_uid") == Set(1L, 2L, 3L))

    // a rebuild that died before its commit is no generation at all
    val root = tmp("manifest-gen")
    val vecs = (0 until 30).map(i => (i.toLong, Array.tabulate(4)(d => if (d == i % 3) 1f else i / 100f)))
    VectorStoreMaintenance.init(vecs.toDF("vec_id", "embedding"), 3, root)
    vecs.toDF("vec_id", "embedding").withColumn("cid", lit(0))
      .write.partitionBy("cid").parquet(s"$root/gen_1")
    assert(VectorStoreMaintenance.currentGen(spark, root) == 0)
    assert(VectorStoreMaintenance.probe(spark, root,
      Seq((100L, vecs(4)._2)).toDF("qid", "qemb"), 3, 3).count() == 3)
  }

  test("readers never see a torn store while append, delete and rebuild run") {
    import spark.implicits._
    // LSH-bucket store over the corpus documents
    val index = RagPipeline.ingest(
      graft.Tables.documents(spark, sfDir).select("doc_id", "text")).localCheckpoint()
    val lsh = tmp("manifest-conc-lsh") + "/store"
    VectorStoreSink.write(index, lsh)
    val chunks = index.select("chunk_uid", "chunk").orderBy("chunk_uid").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val doomed = chunks.grouped(math.max(1, chunks.size / 8)).take(3).map(_.take(4)).toSeq

    // IVF store with generations
    val dim = 6
    def vec(c: Int, i: Int) = Array.tabulate(dim)(d => (if (d == c) 1f else 0f) + ((i * 7 + d) % 5) / 50f)
    val root = tmp("manifest-conc-ivf")
    VectorStoreMaintenance.init((0 until 60).map(i => (i.toLong, vec(i % 3, i)))
      .toDF("vec_id", "embedding"), 3, root)
    val ivfCommitted = new AtomicLong(60L)

    // an unpartitioned table: a plain directory, adopted by its first rewrite
    val plain = tmp("manifest-conc-plain") + "/t"
    spark.range(0, 40, 1, 4).selectExpr("id", "id * 3 as x").write.parquet(plain)
    def state(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("x")).head()
      (r.getLong(0), r.getLong(1))
    }
    val plainCommitted = scala.collection.mutable.Set(state(graft.Tables.parquet(spark, plain)))
    val plainSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    def plainCommit(write: => Unit): Unit = {
      write
      plainCommitted += state(graft.Tables.parquet(spark, plain))
    }

    val deleted = new AtomicReference(Set.empty[Long])
    val stop = new AtomicBoolean(false)
    val faults = new ConcurrentLinkedQueue[String]()
    val reads = new AtomicLong(0L)

    def reader(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => {
        while (!stop.get()) {
          try { body; reads.incrementAndGet() }
          catch { case e: Throwable => faults.add(s"$name: $e") }
        }
      })
      t.start(); t
    }
    // one doomed chunk's own text per round: its top hit until deleted
    val questions = doomed.map(_.head._2).zipWithIndex
      .map { case (q, i) => (i.toLong, q) }
    val lshReader = reader("lsh") {
      val gone = deleted.get()
      val seen = ids(StoreManifest.read(spark, lsh), "chunk_uid") ++
        ids(VectorStoreSink.retrieve(spark, lsh, questions.toDF("query_id", "question"), 3), "chunk_uid")
      if ((seen & gone).nonEmpty) faults.add(s"lsh: deleted ids returned: ${seen & gone}")
    }
    val ivfReader = reader("ivf") {
      val floor = ivfCommitted.get()
      val hits = VectorStoreMaintenance.probe(spark, root,
        Seq((900L, vec(0, 900)), (901L, vec(2, 901))).toDF("qid", "qemb"), 5, 3).collect()
      if (hits.length != 10) faults.add(s"ivf: ${hits.length} hits for 2 queries")
      val g = VectorStoreMaintenance.currentGen(spark, root)
      val n = StoreManifest.read(spark, s"$root/gen_$g").count()
      if (n < floor) faults.add(s"ivf: gen_$g holds $n vectors, $floor committed")
    }
    val plainReader = reader("plain") { plainSeen.add(state(graft.Tables.parquet(spark, plain))) }

    try {
      doomed.zipWithIndex.foreach { case (ids, round) =>
        plainCommit(Mutations.rewriteInPlace(spark, plain)(df => Mutations.deleteWhere(df, col("id") % 7 === round)))
        val g = VectorStoreMaintenance.currentGen(spark, root)
        val batch = (0 until 10).map(i => (1000L * (round + 1) + i, vec(i % 3, i)))
        IvfIndex.append(batch.toDF("vec_id", "embedding"),
          VectorStoreMaintenance.loadCodebook(spark, root, g), s"$root/gen_$g")
        ivfCommitted.addAndGet(batch.size)
        VectorStoreSink.deleteByIds(spark, lsh, ids.map(_._1))
        deleted.updateAndGet(_ ++ ids.map(_._1))
        plainCommit(StreamingCompaction.append(spark.range(100L * (round + 1), 100L * (round + 1) + 5, 1, 2)
          .selectExpr("id", "id * 3 as x"), plain, batchId = round.toLong))
        val drift = (0 until 10).map(i => (5000L * (round + 1) + i, vec(3 + i % 3, i)))
        val report = VectorStoreMaintenance.absorb(spark, drift.toDF("vec_id", "embedding"), root,
          thresholdPpm = -1L)
        assert(report.retrained && report.generation == g + 1)
        ivfCommitted.addAndGet(drift.size)
        val snap = StoreManifest.snapshot(spark, plain)
        plainCommit(CompactionPlanner.compact(spark, plain, snap, CompactionPlanner.plan(snap, Long.MaxValue / 4)))
      }
    } finally {
      stop.set(true)
      lshReader.join(); ivfReader.join(); plainReader.join()
    }
    assert(faults.isEmpty, faults.asScala.mkString("\n"))
    assert(plainSeen.asScala.subsetOf(plainCommitted),
      s"plain: read ${plainSeen.asScala -- plainCommitted}, committed $plainCommitted")
    assert(reads.get() >= 4, s"only ${reads.get()} reads overlapped the writes")
    assert(VectorStoreMaintenance.currentGen(spark, root) == doomed.size)
    // each rebuild retires the generations below the one it superseded
    val gens = new File(root).listFiles().map(_.getName).filter(_.startsWith("gen_")).sorted.toSeq
    assert(gens == Seq(s"gen_${doomed.size - 1}", s"gen_${doomed.size}"))
    assert((ids(StoreManifest.read(spark, lsh), "chunk_uid") & deleted.get()).isEmpty)
  }
}
