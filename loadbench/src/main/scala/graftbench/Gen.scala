package graftbench

import java.util.SplittableRandom

/** Seeded inputs and op sequences. Everything here is a pure function of
  * the seed: the same seed gives the same tables, batches, questions and
  * op order, in any JVM. Each purpose draws from its own stream, so a
  * change to one generator never shifts the draws of another. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** Zipf(s) over 0 until n, sampled by inverting the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** `n` distinct lowercase pseudo-words (BM25 tokens match [a-z0-9]+). */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 1)
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 3 + r.nextInt(7)
      out += Seq.fill(len)(Letters.charAt(r.nextInt(Letters.length))).mkString
    }
    out.toIndexedSeq
  }

  // ---- usage analytics tables (the schemas graft.Tables reads) ----

  final case class Customer(key: Long, name: String, nation: Int, acctbalCents: Long,
      segment: String)
  final case class Order(key: Long, cust: Long, status: String, totalCents: Long,
      dateMicros: Long, priority: String)
  final case class Event(id: Long, tsMicros: Long, user: Long, kind: String,
      valueCents: Long, props: String)

  val Nations = 25
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses = IndexedSeq("F", "O", "P")
  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  /** Event kinds with their draw weights; q12 prices click/view/purchase. */
  val EventKinds = IndexedSeq("view" -> 40, "click" -> 30, "purchase" -> 10,
    "signup" -> 5, "error" -> 15)
  private val KindCdf = EventKinds.map(_._2).scanLeft(0)(_ + _).tail
  val DayMicros = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z */
  val EventEpochMicros = 1704067200L * 1000000L
  /** 1992-01-01T00:00:00Z */
  val OrderEpochMicros = 694224000L * 1000000L

  def customers(seed: Long, n: Int): IndexedSeq[Customer] = {
    val r = rng(seed, 2)
    (0 until n).map { i =>
      Customer(i.toLong, f"Customer#$i%09d", r.nextInt(Nations),
        r.nextLong(-99999L, 999999L), Segments(r.nextInt(Segments.size)))
    }
  }

  def orders(seed: Long, n: Int, nCustomers: Int): IndexedSeq[Order] = {
    val r = rng(seed, 3)
    (0 until n).map { i =>
      Order(i.toLong, r.nextInt(nCustomers).toLong, Statuses(r.nextInt(Statuses.size)),
        r.nextLong(100000L, 50000000L), OrderEpochMicros + r.nextInt(2400) * DayMicros,
        Priorities(r.nextInt(Priorities.size)))
    }
  }

  /** `n` events starting at id `firstId` / time `startMicros`, users drawn
    * Zipf-skewed so a few users dominate activity. Timestamps strictly
    * increase, so every batch lands after the previous one. */
  def events(seed: Long, stream: Long, firstId: Long, startMicros: Long, n: Int,
      users: Zipf): IndexedSeq[Event] = {
    val r = rng(seed, stream)
    var ts = startMicros
    (0 until n).map { i =>
      ts += 1L + r.nextLong(60L * 1000000L)
      val u = r.nextInt(100)
      val kind = EventKinds(KindCdf.indexWhere(u < _))._1
      Event(firstId + i, ts, users.sample(r).toLong, kind, r.nextLong(0L, 50000L),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  // ---- documents, embeddings and questions (rag corpus, vector stores) ----

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Question(id: Int, terms: IndexedSeq[String], qemb: Array[Float])

  val Dim = 64
  val Clusters = 16
  val Langs = IndexedSeq("en", "es", "de", "fr", "zh")

  def docs(seed: Long, stream: Long, firstId: Long, n: Int, vocab: IndexedSeq[String],
      minWords: Int, maxWords: Int): IndexedSeq[Doc] = {
    val r = rng(seed, stream)
    val words = new Zipf(vocab.size, 0.9)
    (0 until n).map { i =>
      val len = minWords + r.nextInt(maxWords - minWords + 1)
      Doc(firstId + i, Seq.fill(len)(vocab(words.sample(r))).mkString(" "),
        Langs(r.nextInt(Langs.size)), s"src${r.nextInt(4)}")
    }
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def centers(seed: Long): IndexedSeq[Array[Double]] = {
    val r = rng(seed, 20)
    IndexedSeq.fill(Clusters)(Array.fill(Dim)(gauss(r)))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on every JDK
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** One clustered unit vector per doc id (embeddings.vec_id = doc_id). */
  def embeddings(seed: Long, ids: Seq[Long]): IndexedSeq[(Long, Array[Float], Int)] = {
    val r = rng(seed, 21)
    val cs = centers(seed)
    ids.map { id =>
      val c = r.nextInt(Clusters)
      (id, unit(cs(c).map(_ + 0.6 * gauss(r))), c)
    }.toIndexedSeq
  }

  /** The question pool: 2-5 terms (popular words drawn more often) and a
    * query vector near one of the corpus clusters. */
  def questions(seed: Long, n: Int, vocab: IndexedSeq[String]): IndexedSeq[Question] = {
    val r = rng(seed, 22)
    val cs = centers(seed)
    val words = new Zipf(vocab.size, 0.9)
    (0 until n).map { i =>
      val terms = Seq.fill(2 + r.nextInt(4))(vocab(words.sample(r))).distinct.toIndexedSeq
      Question(i, terms, unit(cs(r.nextInt(Clusters)).map(_ + 0.6 * gauss(r))))
    }
  }

  // ---- op sequences ----

  /** One op of a workload's fixed sequence: `arg` picks its input (a
    * question, a batch) and is drawn from the seed like everything else. */
  final case class Op(index: Int, name: String, write: Boolean, arg: Int)

  /** The first `n` ops of `workload`'s sequence for `seed`. A longer
    * sequence extends a shorter one: op i never depends on n. */
  def opSequence(workload: String, seed: Long, n: Int): IndexedSeq[Op] = workload match {
    case "rag_serve" =>
      val r = rng(seed, 30)
      val pool = new Zipf(RagServe.QuestionPool, RagServe.QuestionSkew)
      (0 until n).map(i => Op(i, "rag_turn", write = false, pool.sample(r)))
    case "usage_analytics" =>
      // each cycle: the eight dashboard reads in a seeded order, with an
      // insert after every fourth read (read:write = 4:1)
      val r = rng(seed, 31)
      val cycles = Iterator.from(0).flatMap { c =>
        val reads = shuffle(UsageAnalytics.Reads, r)
        reads.grouped(4).zipWithIndex.flatMap { case (group, j) =>
          group.map(q => (q, false, 0)) :+ (("usage_insert", true, c * 2 + j))
        }
      }
      cycles.take(n).zipWithIndex.map { case ((name, w, arg), i) => Op(i, name, w, arg) }
        .toIndexedSeq
    case "vector_ingest" =>
      val cycle = VectorIngest.Cycle
      (0 until n).map { i =>
        val (name, w) = cycle(i % cycle.size)
        Op(i, name, w, i / cycle.size)
      }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def shuffle[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** A seeded permutation of 0 until n. */
  def permutation(seed: Long, stream: Long, n: Int): IndexedSeq[Int] =
    shuffle((0 until n).toIndexedSeq, rng(seed, stream))
}
