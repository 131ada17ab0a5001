package graftbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CharHistEmbedUtil, RecursiveChunksUtil}
import graft.operators.{Lookups, Mutations, RagPipeline, Relational, Retrieval}
import graft.sources.{IvfIndex, VectorStoreMaintenance, VectorStoreSink}
import Gen.Op

/** A correctness check that failed; the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** One workload: builds its inputs, then runs ops of its fixed sequence. */
trait Workload {
  def name: String
  /** Ops per repeating unit of the sequence; warm-up and timed phases
    * cover whole cycles, so every run times the same mix of op kinds. */
  def cycle: Int
  /** Untimed cycles at the head of the sequence, run after the build. */
  def warmupCycles: Int
  /** Cycles the timed phase covers: every run times the same ops and
    * places its read tail at the same percentile. */
  def timedCycles: Int
  /** Generates the inputs and builds tables, stores and indexes under
    * `dir`, resetting all bench-side state. */
  def setup(dir: String): Unit
  /** Runs `op`: calls `built()` once the graft call has returned, runs the
    * sink action, and returns the correctness check, which the runner
    * calls after the op's clock has stopped. */
  def run(op: Op, built: () => Unit): () => Unit
  /** Directories whose files a write may change. */
  def storeDirs: Seq[String]
  /** Bytes the user submitted with a write op (0 for reads). */
  def userBytes(op: Op): Long
  /** Chunks an op embeds on the way into a store. */
  def chunksEmbedded(op: Op): Long = 0L
  /** Workload-specific end-of-run figures: (name, value, unit). */
  def endMetrics(): Seq[(String, Double, String)] = Nil
  /** Input facts printed with the results. */
  def notes(ops: Seq[Op]): Seq[String]
}

object Workload {
  val Names = Seq("rag_serve", "usage_analytics", "vector_ingest")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "rag_serve" => new RagServe(spark, seed)
    case "usage_analytics" => new UsageAnalytics(spark, seed)
    case "vector_ingest" => new VectorIngest(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)

  def writeTable(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Parquet data files under `dir` with their sizes. */
  def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }

  /** All bytes on disk under `dir`. */
  def diskBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length
    walk(new File(dir))
  }

  def embed(text: String): Array[Float] =
    CharHistEmbedUtil.embed(UTF8String.fromString(text)).toFloatArray

  def chunks(text: String): IndexedSeq[String] =
    RecursiveChunksUtil.chunks(UTF8String.fromString(text), RagPipeline.ChunkSize,
      RagPipeline.Overlap).array.toIndexedSeq.map(_.toString)

  private[graftbench] def ranksOf(rows: Seq[Int]): Boolean = rows == (1 to rows.size)

  val DocsSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docRow(d: Gen.Doc): Row = Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)
}

import Workload._

/** Reads only: one RAG turn per op (BM25 leg + dense leg, reciprocal-rank
  * fusion, MMR, token ledger) for a question drawn Zipf-skewed from a
  * pool. Every distinct question brings new literals, so plans and
  * generated code are not shared between them. */
final class RagServe(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val name = "rag_serve"
  val cycle = 1
  val warmupCycles = 6
  val timedCycles = Stats.minTailSamples
  private val vocab = Gen.vocabulary(seed, 400)
  private val docs = Gen.docs(seed, 10, 0L, RagServe.Docs, vocab, 20, 100)
  private val tokens: Map[Long, Long] = docs.map(d => d.id -> d.text.split(' ').length.toLong).toMap
  private val questions = Gen.questions(seed, RagServe.QuestionPool, vocab)
  private var dir = ""
  private val seen = scala.collection.mutable.Map[Int, Seq[(Int, Long, Long, Long)]]()

  def setup(d: String): Unit = {
    dir = d
    seen.clear()
    writeTable(spark, docs.map(docRow), DocsSchema, s"$d/documents.parquet")
    writeTable(spark, Gen.embeddings(seed, docs.map(_.id)).map { case (id, v, l) => Row(id, v.toSeq, l) },
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      s"$d/embeddings.parquet")
  }

  def run(op: Op, built: () => Unit): () => Unit = {
    val q = questions(op.arg)
    val df = Retrieval.p4RagContextFor(spark, dir, q.terms, Seq(Tuple1(q.qemb)).toDF("qemb"))
    built()
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    () => {
      check(rows.size == Retrieval.P4K, s"question ${q.id}: ${rows.size} context rows")
      check(ranksOf(rows.map(_._1)), s"question ${q.id}: ranks ${rows.map(_._1)}")
      check(rows.map(_._2).distinct.size == rows.size, s"question ${q.id}: repeated doc")
      rows.foreach { case (_, doc, n, _) =>
        check(tokens.get(doc).contains(n), s"question ${q.id}: doc $doc has $n tokens")
      }
      check(rows.map(_._4) == rows.map(_._3).scanLeft(0L)(_ + _).tail,
        s"question ${q.id}: cum_tokens is not the running sum")
      seen.get(q.id) match {
        case Some(prev) => check(prev == rows, s"question ${q.id}: answer changed on repeat")
        case None => seen(q.id) = rows
      }
    }
  }

  def storeDirs: Seq[String] = Seq(dir)
  def userBytes(op: Op): Long = 0L

  def notes(ops: Seq[Op]): Seq[String] = {
    val repeats = ops.indices.count(i => ops.take(i).exists(_.arg == ops(i).arg))
    Seq(s"docs=${docs.size} vocab=${vocab.size} question_pool=${questions.size} " +
      f"zipf_s=${RagServe.QuestionSkew} repeat_share=${repeats.toDouble / ops.size}%.3f " +
      s"(of ${ops.size} ops)")
  }
}

object RagServe {
  val Docs = 2000
  val QuestionPool = 200
  val QuestionSkew = 1.0
}

/** Dashboard reads over the usage tables, with an append of a usage-event
  * batch after every fourth read. The eight query shapes repeat, so plans
  * and generated code are shared; the inserts grow `events`, so every
  * read must see the rows written before it. */
final class UsageAnalytics(spark: SparkSession, seed: Long) extends Workload {
  import UsageAnalytics._
  val name = "usage_analytics"
  val cycle = Reads.size + Reads.size / 4
  val warmupCycles = 2
  val timedCycles = 4
  private val customers = Gen.customers(seed, Customers)
  private val orders = Gen.orders(seed, Orders, Customers)
  private val users = new Gen.Zipf(Customers, UserSkew)
  private val initial = Gen.events(seed, 4, 0L, Gen.EventEpochMicros, InitialEvents, users)
  private var dir = ""
  private var events = IndexedSeq.empty[Gen.Event]

  def setup(d: String): Unit = {
    dir = d
    events = initial
    writeTable(spark, (0 until Gen.Nations).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))), s"$d/nation.parquet")
    writeTable(spark, customers.map(c => Row(c.key, c.name, c.nation, c.acctbalCents / 100.0,
        c.segment)),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))), s"$d/customer.parquet")
    writeTable(spark, orders.map(o => Row(o.key, o.cust, o.status, o.totalCents / 100.0,
        new java.sql.Timestamp(o.dateMicros / 1000), o.priority)),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      s"$d/orders.parquet")
    writeTable(spark, initial.map(eventRow), EventsSchema, s"$d/events.parquet")
  }

  /** Insert batch j: ids and timestamps continue after everything before it. */
  private def batch(j: Int): IndexedSeq[Gen.Event] =
    Gen.events(seed, 1000L + j, InitialEvents + j.toLong * BatchSize,
      initial.last.tsMicros + j.toLong * BatchSize * 61L * 1000000L, BatchSize, users)

  def run(op: Op, built: () => Unit): () => Unit = op.name match {
    case "usage_insert" =>
      val b = batch(op.arg)
      val rows = spark.createDataFrame(java.util.Arrays.asList(b.map(eventRow): _*), EventsSchema)
      Mutations.rewriteInPlace(spark, s"$dir/events.parquet")(Mutations.insertRows(_, rows))
      built()
      () => events = events ++ b
    case q =>
      val df = q match {
        case "activity_page" => Lookups.q30UserActivityPage(spark, dir)
        case "page_total" => Lookups.q36PageWithTotal(spark, dir)
        case "leaderboard" => Relational.q5TopN(spark, dir)
        case "cost" => Relational.q12CostCalc(spark, dir)
        case "latest_thread" => Relational.q11LatestPerKey(spark, dir)
        case "last_n" => Relational.q37LastNPerKey(spark, dir)
        case "semijoin" => Relational.q8SemijoinIn(spark, dir)
        case "usage_daily" => Relational.q3JoinGroupSort(spark, dir)
      }
      built()
      val rows = df.collect().toSeq
      val seenEvents = events
      () => new Oracle(seenEvents).verify(q, rows)
  }

  /** Expected answers recomputed from the generated rows. */
  private final class Oracle(ev: IndexedSeq[Gen.Event]) {
    private def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.abs(b) + 1e-6
    private lazy val byUser = ev.groupBy(_.user)
    private def newestFirst(es: Seq[Gen.Event]) =
      es.sortBy(e => (-e.tsMicros, -e.id))

    def verify(q: String, rows: Seq[Row]): Unit = q match {
      case "activity_page" =>
        val want = customers.map(c => (c.key, c.name, byUser.get(c.key).fold(0L)(_.size.toLong)))
          .sortBy(t => (-t._3, t._1)).slice(15, 30)
        val got = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        check(got == want, s"activity_page: got ${got.take(3)}..., want ${want.take(3)}...")
      case "page_total" =>
        val open = orders.filter(_.status == "O").sortBy(o => (-o.dateMicros, o.key))
        val got = rows.map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
        val want = open.slice(20, 30).map(o =>
          (o.key, open.size.toLong, (open.size + 9L) / 10))
        check(got == want, s"page_total: got ${got.take(2)}, want ${want.take(2)}")
      case "leaderboard" =>
        val nation = customers.map(c => c.key -> c.nation).toMap
        val want = ev.groupBy(e => nation(e.user)).toSeq
          .map { case (n, es) => (s"NATION_$n", es.map(_.valueCents).sum, es.size.toLong) }
          .sortBy(t => (-t._2, t._1)).take(10)
        val got = rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        check(got.size == want.size && got.zip(want).forall { case (g, w) =>
          g._1 == w._1 && near(g._2, w._2 / 100.0) && g._3 == w._3
        }, s"leaderboard: got ${got.take(2)}, want ${want.take(2)}")
      case "cost" =>
        // total_tokens = sum(value + floor(value / 2)) per event type
        val want = ev.groupBy(_.kind).map { case (k, es) =>
          k -> es.map(e => e.valueCents + (e.valueCents / 200) * 100).sum / 100.0
        }
        val got = rows.map(r => r.getString(0) -> r.getDouble(2)).toMap
        check(got.keySet == want.keySet && want.forall { case (k, v) => near(got(k), v) },
          s"cost: got $got, want $want")
      case "latest_thread" =>
        val want = byUser.toSeq.map { case (u, es) => (u, newestFirst(es).head.id) }.sortBy(_._1)
        val got = rows.map(r => (r.getLong(0), r.getLong(1)))
        check(got == want, s"latest_thread: ${got.size} rows, want ${want.size}")
      case "last_n" =>
        val want = byUser.toSeq.sortBy(_._1).flatMap { case (u, es) =>
          newestFirst(es).take(3).zipWithIndex.map { case (e, i) => (u, i + 1, e.id) }
        }
        val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        check(got == want, s"last_n: ${got.size} rows, want ${want.size}")
      case "semijoin" =>
        val building = customers.filter(_.segment == "BUILDING").map(_.key).toSet
        val want = orders.filter(o => building(o.cust)).map(_.key)
        check(rows.map(_.getLong(0)) == want, s"semijoin: ${rows.size} rows, want ${want.size}")
      case "usage_daily" =>
        val want = ev.groupBy { e =>
          val d = Instant.ofEpochSecond(e.tsMicros / 1000000L).atOffset(ZoneOffset.UTC)
          (d.getYear, d.getMonthValue, d.getDayOfMonth, e.user)
        }.map { case (k, es) => k -> (es.map(_.valueCents).sum, es.size.toLong) }
        val got = rows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)) ->
          (r.getDouble(5), r.getLong(6)))
        check(got.size == want.size && got.forall { case (k, (v, n)) =>
          want.get(k).exists(w => near(v, w._1 / 100.0) && n == w._2)
        }, s"usage_daily: ${got.size} groups, want ${want.size}")
        check(got.map(_._1) == got.map(_._1).sortBy(identity), "usage_daily: not sorted")
    }
  }

  def storeDirs: Seq[String] = Seq(s"$dir/events.parquet")
  def userBytes(op: Op): Long =
    if (op.write) batch(op.arg).map(e => 8L * 4 + e.kind.length + e.props.length).sum else 0L

  def notes(ops: Seq[Op]): Seq[String] = {
    val w = ops.count(_.write)
    Seq(s"customers=$Customers orders=$Orders initial_events=$InitialEvents " +
      s"insert_batch=$BatchSize user_zipf_s=$UserSkew read:write=${ops.size - w}:$w " +
      s"events_at_end=${events.size}")
  }
}

object UsageAnalytics {
  val Reads = IndexedSeq("activity_page", "page_total", "leaderboard", "cost",
    "latest_thread", "last_n", "semijoin", "usage_daily")
  val Customers = 1000
  val Orders = 5000
  val InitialEvents = 20000
  val BatchSize = 100
  val UserSkew = 1.1

  val EventsSchema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  def eventRow(e: Gen.Event): Row = Row(e.id, timestamp(e.tsMicros), e.user, e.kind,
    e.valueCents / 100.0, e.props)

  private def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
}

/** Writes beside read-after-write probes on the two vector stores: doc
  * batches are chunked, embedded and appended to the IVF index, chunk ids
  * are deleted from the LSH-bucket store, and both stores are probed. */
final class VectorIngest(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import VectorIngest._
  val name = "vector_ingest"
  val cycle = Cycle.size
  // a cycle keeps getting faster for over a minute (JIT): the first two
  // take the steep part (about 30%), later ones a few percent each
  val warmupCycles = 2
  val timedCycles = 3
  // The base corpus is the same for every seed: the LSH store's bucket
  // count sets a retrieve's cost (Spark lists a store of more than 32
  // partition directories with a job of one task per directory), and a
  // seeded corpus gives 25 to 43 buckets, either side of that cliff. This
  // one has 40. The seed drives the appended batches, the delete order and
  // the probed and retrieved chunks.
  private val vocab = Gen.vocabulary(CorpusSeed, 400)
  private val corpus = Gen.docs(CorpusSeed, 11, 0L, CorpusDocs, vocab, 40, 140)
  /** (chunk uid, chunk text) of the initial corpus. */
  private val corpusChunks: IndexedSeq[(Long, String)] = corpus.flatMap { d =>
    chunks(d.text).zipWithIndex.map { case (c, i) => (d.id * 10000 + i, c) }
  }
  private val deleteOrder = Gen.permutation(seed, 12, corpusChunks.size)
  private var dir = ""
  private var codebook: Array[Array[Float]] = Array.empty
  private var deleted = Set.empty[Long]
  private var lastDeleted: Option[(Long, String)] = None
  private var lastAppended: Option[(Long, String)] = None
  private var ivfVectors = 0L

  private def lshPath = s"$dir/lsh_store"
  private def ivfRoot = s"$dir/ivf"
  private def genPath = s"$ivfRoot/gen_${VectorStoreMaintenance.currentGen(spark, ivfRoot)}"

  def setup(d: String): Unit = {
    dir = d
    deleted = Set.empty; lastDeleted = None; lastAppended = None
    val docs = spark.createDataFrame(java.util.Arrays.asList(corpus.map(docRow): _*), DocsSchema)
    val index = RagPipeline.ingest(docs).localCheckpoint()
    VectorStoreSink.write(index, lshPath)
    VectorStoreMaintenance.init(index.select(col("chunk_uid").as("vec_id"), col("embedding")),
      Centroids, ivfRoot, seed)
    codebook = VectorStoreMaintenance.loadCodebook(spark, ivfRoot, 0)
    ivfVectors = corpusChunks.size
  }

  private def batch(j: Int): IndexedSeq[Gen.Doc] =
    Gen.docs(seed, 2000L + j, 1000000L + j.toLong * BatchDocs, BatchDocs, vocab, 40, 140)

  /** `n` seeded picks from the chunks that no delete in this run reaches. */
  private def keptChunks(stream: Long, n: Int): Seq[(Long, String)] = {
    val r = Gen.rng(seed, stream)
    val kept = deleteOrder.size / 2
    Seq.fill(n)(corpusChunks(deleteOrder(kept + r.nextInt(deleteOrder.size - kept))))
  }

  def run(op: Op, built: () => Unit): () => Unit = op.name match {
    case "ingest_append" =>
      val docs = batch(op.arg)
      val df = spark.createDataFrame(java.util.Arrays.asList(docs.map(docRow): _*), DocsSchema)
      val index = RagPipeline.ingest(df)
      built()
      IvfIndex.append(index.select(col("chunk_uid").as("vec_id"), col("embedding")),
        codebook, genPath)
      () => {
        val added = docs.flatMap(d => chunks(d.text).zipWithIndex.map { case (c, i) =>
          (d.id * 10000 + i, c) })
        ivfVectors += added.size
        lastAppended = Some(added.head)
      }
    case "store_delete" =>
      val from = op.arg * DeleteBatch
      check(from + DeleteBatch <= deleteOrder.size / 2, "delete order exhausted")
      val ids = deleteOrder.slice(from, from + DeleteBatch).map(i => corpusChunks(i)._1)
      VectorStoreSink.deleteByIds(spark, lshPath, ids)
      built()
      () => {
        deleted ++= ids
        lastDeleted = Some(corpusChunks(deleteOrder(from + DeleteBatch - 1)))
      }
    case "ivf_probe" =>
      val qs = lastAppended.toSeq ++ keptChunks(100000L + op.index, 2)
      val df = VectorStoreMaintenance.probe(spark, ivfRoot,
        qs.map { case (uid, text) => (uid, embed(text)) }.toDF("qid", "qemb"), ProbeK, NProbe)
      built()
      val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      () => {
        val byQ = rows.groupBy(_._1)
        qs.foreach { case (uid, _) =>
          val hits = byQ.getOrElse(uid, Nil).sortBy(_._2)
          check(ranksOf(hits.map(_._2)) && hits.size == ProbeK,
            s"ivf_probe: ranks ${hits.map(_._2)} for $uid")
          check(hits.head._3 == uid, s"ivf_probe: $uid probes back as ${hits.head._3}")
        }
      }
    case "store_retrieve" =>
      val live = keptChunks(200000L + op.index, 1).head
      val r = Gen.rng(seed, 300000L + op.index)
      val questions = Seq((0L, live._2), (1L, Seq.fill(6)(vocab(r.nextInt(vocab.size))).mkString(" "))) ++
        lastDeleted.map(d => (2L, d._2))
      val df = VectorStoreSink.retrieve(spark, lshPath, questions.toDF("query_id", "question"),
        RetrieveK)
      built()
      val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val gone = deleted
      () => {
        rows.groupBy(_._1).foreach { case (q, hits) =>
          check(ranksOf(hits.map(_._2).sorted), s"store_retrieve: ranks for query $q")
        }
        val top = rows.filter(h => h._1 == 0L && h._2 == 1).map(_._3)
        check(top == Seq(live._1), s"store_retrieve: live chunk ${live._1} came back as $top")
        val back = rows.map(_._3).filter(gone)
        check(back.isEmpty, s"store_retrieve: deleted ids returned: $back")
      }
  }

  def storeDirs: Seq[String] = Seq(lshPath, ivfRoot)

  override def chunksEmbedded(op: Op): Long =
    if (op.name == "ingest_append") batch(op.arg).map(d => chunks(d.text).size.toLong).sum else 0L

  def userBytes(op: Op): Long = op.name match {
    case "ingest_append" => batch(op.arg).map(_.text.getBytes("UTF-8").length.toLong).sum
    case "store_delete" => 8L * DeleteBatch
    case _ => 0L
  }

  override def endMetrics(): Seq[(String, Double, String)] = {
    val live = corpusChunks.size - deleted.size + ivfVectors
    Seq(("store_bytes_per_vector",
      (diskBytes(lshPath) + diskBytes(ivfRoot)).toDouble / live, "B"))
  }

  def notes(ops: Seq[Op]): Seq[String] = {
    val w = ops.count(_.write)
    Seq(s"corpus_docs=$CorpusDocs corpus_chunks=${corpusChunks.size} centroids=$Centroids " +
      s"batch_docs=$BatchDocs delete_batch=$DeleteBatch read:write=${ops.size - w}:$w " +
      s"ivf_vectors_at_end=$ivfVectors deleted_at_end=${deleted.size}")
  }
}

object VectorIngest {
  /** Read:write 4:1. An IVF probe costs about two store retrieves; with
    * one probe per seven retrieves both the read median and the read tail
    * of a 23-72 read run fall among retrieves, so neither jumps between
    * the two kinds as the op count of a run varies. */
  val Cycle = IndexedSeq("ingest_append" -> true, "store_retrieve" -> false,
    "store_retrieve" -> false, "store_retrieve" -> false, "store_retrieve" -> false,
    "ivf_probe" -> false, "store_delete" -> true, "store_retrieve" -> false,
    "store_retrieve" -> false, "store_retrieve" -> false)
  val CorpusSeed = 114L
  val CorpusDocs = 300
  val BatchDocs = 4
  val DeleteBatch = 4
  val Centroids = 8
  val ProbeK = 5
  val NProbe = 2
  val RetrieveK = 3
}
