package graft.operators

import graft.{LocalGateHarness, SparkSpec}

/** r18: the broadcast-local reporter ([[Hnsw.expandTopKLocal]]) must be
  * BIT-IDENTICAL to the declarative frame reporter it short-circuits —
  * same (qid, rank, neighbor) set on the real corpus (through the s24
  * curve; the registered s21 read is pinned in HnswWalkEquivalenceSpec)
  * and on the duplicate-embedding fixture that exercises the (qid, cemb)
  * dedup. Any drift in either implementation fails loudly
  * (s21/s22/s23/p11 reads and the s24 curve all report through this
  * path). */
class HnswReportEquivalenceSpec extends SparkSpec with LocalGateHarness {
  import spark.implicits._

  test("local reporter ≡ frame reporter: s24 curve rows across paths") {
    val (frame, local) = framesAndLocal("hnsw.walk", "hnsw.report", "brute") {
      Hnsw.s24HnswTuning(spark, sfDir).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSeq
    }
    assert(local == frame)
  }

  test("local reporter ≡ frame reporter on the duplicate-embedding fixture") {
    // two graph nodes with identical embeddings in the top-K (the dedup
    // clause), a replica family (id 4 shares node 1's embedding but is
    // not a graph node), and a sub-K query (8)
    val e0 = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
      (4L, Array(1f, 0f)), (5L, Array(0.6f, 0.8f)), (6L, Array(-1f, 0f)),
      (7L, Array(0f, -1f))).toDF("vec_id", "embedding")
    val visited = Seq(
      (7L, 1L, 0.9), (7L, 2L, 0.9), (7L, 3L, 0.5), (7L, 5L, 0.7),
      (7L, 6L, -0.3), (7L, 7L, -0.9),
      (8L, 3L, 0.4)).toDF("qid", "node", "sc")
    val (frame, local) = framesAndLocal("hnsw.report") {
      Hnsw.expandTopK(e0, visited).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    assert(local == frame, s"onlyLocal=${local -- frame} onlyFrame=${frame -- local}")
    assert(local.nonEmpty)
  }
}
