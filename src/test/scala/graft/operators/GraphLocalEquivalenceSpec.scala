package graft.operators

import graft.{LocalGateHarness, SparkSpec}
import org.apache.spark.sql.functions._

/** Pins the size-gated broadcast-local graph kernels (g1 PageRank, g2
  * triangle census, g3 k-hop BFS — Graph.underLocalGate) to the
  * distributed frame fixed points, on the real corpus and on random
  * graphs. Every kernel is exact integer arithmetic, so the pin is
  * full bit-equality of the collected rows, not a tolerance check. */
class GraphLocalEquivalenceSpec extends SparkSpec with LocalGateHarness {
  import spark.implicits._

  private def corpusPairs = Graph.copurchasePairs(spark, sfDir)

  test("g1 kernel: broadcast-local PageRank equals the frame fixed point on the real corpus") {
    val (frame, local) = framesAndLocal("graph.pagerank") {
      Graph.pageRank(corpusPairs, Graph.Iterations, assumeNormalized = true)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(local == frame)
    assert(local.nonEmpty)
  }

  test("g2 kernel: broadcast-local census equals the frame census on the real corpus") {
    val (frame, local) = framesAndLocal("graph.triangles") {
      Graph.triangleStats(corpusPairs).collect().map(_.toSeq).toSeq
    }
    assert(local == frame)
  }

  test("g3 kernel: broadcast-local BFS equals the frame walk on the real corpus") {
    val seeds = graft.Tables.part(spark, sfDir)
      .filter(col("p_brand") === Graph.ReachBrand)
      .select(col("p_partkey").as("node"))
    val (frame, local) = framesAndLocal("graph.khop") {
      Graph.khopReach(corpusPairs, seeds, Graph.ReachHops)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(local == frame)
  }

  test("local equals frame on random graphs, off-graph seeds and a null seed row") {
    val rnd = new scala.util.Random(20260819L)
    for (_ <- 0 until 3) {
      val nEdges = 12 + rnd.nextInt(30)
      val edges = Seq.fill(nEdges) {
        val u = rnd.nextInt(30).toLong
        val v = rnd.nextInt(30).toLong
        (math.min(u, v), math.max(u, v) + 1) // +1 avoids self-loops
      }.toDF("p1", "p2")
      val (prFrame, prLocal) = framesAndLocal("graph.pagerank") {
        Graph.pageRank(edges, Graph.Iterations)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      }
      assert(prLocal == prFrame)
      val (triFrame, triLocal) = framesAndLocal("graph.triangles") {
        Graph.triangleStats(edges).collect().map(_.toSeq).toSeq
      }
      assert(triLocal == triFrame)
      // seed 999 is outside the graph; the null row must count at hop 0
      // (it survives distinct and count(lit(1))) but join and checksum
      // nothing — the frame walk's exact semantics
      val seeds = Seq(Some(1L), Some(999L), None).toDF("node")
      val (khopFrame, khopLocal) = framesAndLocal("graph.khop") {
        Graph.khopReach(edges, seeds, 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      assert(khopLocal == khopFrame)
    }
  }
}
