package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val vocab = Gen.vocabulary(7L, 400)

  /** Everything a workload feeds the engine for `seed`, as comparable values. */
  private def inputs(seed: Long): Seq[Any] = {
    val users = new Gen.Zipf(1000, 1.1)
    Seq(
      Gen.vocabulary(seed, 400),
      Gen.customers(seed, 1000),
      Gen.orders(seed, 5000, 1000),
      Gen.events(seed, 4, 0L, Gen.EventEpochMicros, 20000, users),
      Gen.events(seed, 1003, 20300L, Gen.EventEpochMicros, 100, users),
      Gen.docs(seed, 10, 0L, 500, vocab, 20, 100),
      Gen.embeddings(seed, 0L until 500L).map { case (id, v, l) => (id, v.toSeq, l) },
      Gen.questions(seed, 200, vocab).map(q => (q.id, q.terms, q.qemb.toSeq)),
      Gen.permutation(seed, 12, 1000))
  }

  test("the same seed gives identical inputs") {
    assert(inputs(3L) == inputs(3L))
    assert(inputs(3L) != inputs(4L))
  }

  test("the same seed gives the same op order, and a longer sequence extends a shorter one") {
    Workload.Names.foreach { w =>
      val a = Gen.opSequence(w, 3L, 500)
      assert(a == Gen.opSequence(w, 3L, 500), w)
      assert(a.take(120) == Gen.opSequence(w, 3L, 120), w)
      assert(a.map(_.index) == (0 until 500), w)
    }
    Seq("rag_serve", "usage_analytics").foreach { w =>
      assert(Gen.opSequence(w, 3L, 200) != Gen.opSequence(w, 4L, 200), w)
    }
  }

  test("every usage cycle holds each dashboard read once and two inserts") {
    val ops = Gen.opSequence("usage_analytics", 5L, 100)
    ops.grouped(10).foreach { c =>
      assert(c.filterNot(_.write).map(_.name).sorted == UsageAnalytics.Reads.sorted)
      assert(c.count(_.write) == 2)
    }
    val batches = ops.filter(_.write).map(_.arg)
    assert(batches == batches.indices, "each insert appends the next batch")
  }

  test("inserted event batches continue ids and time after the rows before them") {
    val users = new Gen.Zipf(100, 1.1)
    val a = Gen.events(1L, 4, 0L, 0L, 50, users)
    assert(a.map(_.id) == (0L until 50L))
    assert(a.map(_.tsMicros).sliding(2).forall(p => p(0) < p(1)))
  }
}
