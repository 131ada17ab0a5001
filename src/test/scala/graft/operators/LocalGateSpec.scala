package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import graft.{Checkpoints, LocalGate, LocalGateHarness, SparkSpec, Tables}
import org.apache.spark.sql.functions.col

/** The shared driver budget: a reservation held by one call pushes every
  * other gated kernel onto its frames (same rows), and concurrent calls
  * never hold more than the budget together. */
class LocalGateSpec extends SparkSpec with LocalGateHarness {

  private def delta(before: Map[String, LocalGate.Decisions])
      : Map[String, LocalGate.Decisions] =
    LocalGate.decisions.map { case (k, d) =>
      val b = before.getOrElse(k, LocalGate.Decisions(0L, 0L, 0L))
      k -> LocalGate.Decisions(d.local - b.local, d.frame - b.frame, d.bytes - b.bytes)
    }.filter { case (_, d) => d.local + d.frame > 0 }

  test("a held budget routes the HNSW reporter and brute top-k to frames with identical rows") {
    val e = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val qs = Similarity.externalQueries(spark, sfDir)
    // a visited set over the first 40 corpus vectors, scored exactly
    val vis = qs.crossJoin(e.filter(col("vec_id") < 40))
      .select(col("qid"), col("vec_id").as("node"),
        graft.functions.VectorExpressions.cosine(col("qemb"), col("embedding")).as("sc"))
      .localCheckpoint()
    def report(): Set[(Long, Int, Long)] = Hnsw.expandTopK(e, vis).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def brute(): Seq[String] =
      Similarity.bruteTopKFrame(e, qs, 5, excludeSelf = false).collect().map(_.toString).toSeq
    val kernels = Set("hnsw.report", "brute")
    withBudget(1L << 30) {
      var before = LocalGate.decisions
      val (reportFree, bruteFree) = (report(), brute())
      val free = delta(before)
      kernels.foreach(k => assert(free(k).local == 1 && free(k).frame == 0, s"$k: $free"))

      // hold the whole budget: a gate call with no sizes reserves all the
      // pool can give
      before = LocalGate.decisions
      val held = LocalGate(spark, "spec.hold", eligible = true) { grant =>
        assert(grant.bytes == (1L << 30) && LocalGate.reserved == (1L << 30))
        Some((report(), brute()))
      }.get
      val whileHeld = delta(before)
      assert(whileHeld("spec.hold") == LocalGate.Decisions(1L, 0L, 1L << 30))
      kernels.foreach(k => assert(whileHeld(k) == LocalGate.Decisions(0L, 1L, 0L), s"$k: $whileHeld"))
      assert(held == ((reportFree, bruteFree)))
      assert(reportFree.nonEmpty && LocalGate.reserved == 0L)

      // released: both route local again
      before = LocalGate.decisions
      assert((report(), brute()) == ((reportFree, bruteFree)))
      val after = delta(before)
      kernels.foreach(k => assert(after(k).local == 1 && after(k).frame == 0, s"$k: $after"))
    }
    Checkpoints.release(vis)
  }

  test("two concurrent calls at a budget that fits one never hold more than it together") {
    val budget = 1000L
    val firstHolds = new CountDownLatch(1)
    val secondDecided = new CountDownLatch(1)
    val peak = new AtomicLong(0L)
    def call(name: String, lead: Boolean): String = {
      if (!lead) assert(firstHolds.await(60, TimeUnit.SECONDS))
      val out = LocalGate(spark, name, eligible = true, () => 600L) { _ =>
        peak.accumulateAndGet(LocalGate.reserved, math.max)
        firstHolds.countDown()
        // keep the reservation until the other call has routed
        assert(secondDecided.await(60, TimeUnit.SECONDS))
        Some("local")
      }.getOrElse("frame")
      if (!lead) secondDecided.countDown()
      out
    }
    withBudget(budget) {
      val before = LocalGate.decisions
      val first = new Thread(() => call("spec.first", lead = true))
      first.start()
      assert(call("spec.second", lead = false) == "frame")
      first.join(120000L)
      assert(!first.isAlive)
      assert(peak.get() == 600L && peak.get() <= budget)
      assert(LocalGate.reserved == 0L)
      val d = delta(before)
      assert(d("spec.first") == LocalGate.Decisions(1L, 0L, 600L))
      assert(d("spec.second") == LocalGate.Decisions(0L, 1L, 0L))
    }
  }

  test("sizes are measured in order and only while the sum fits") {
    val measured = new AtomicLong(0L)
    withBudget(100L) {
      val out = LocalGate(spark, "spec.sizes", eligible = true,
        () => { measured.incrementAndGet(); 150L },
        () => { measured.incrementAndGet(); 1L })(_ => Some(()))
      assert(out.isEmpty && measured.get() == 1L)
      // an ineligible call measures nothing; a grant bounds a limit collect
      assert(LocalGate(spark, "spec.sizes", eligible = false,
        () => { measured.incrementAndGet(); 1L })(_ => Some(())).isEmpty)
      assert(measured.get() == 1L)
      val rows = LocalGate(spark, "spec.sizes", eligible = true) { g =>
        Some(g.rows(LocalGate.VectorRowBytes))
      }
      assert(rows.contains(0))
    }
    withBudget(0L) {
      assert(LocalGate(spark, "spec.sizes", eligible = true, () => 0L)(_ => Some(())).isEmpty)
    }
  }
}
