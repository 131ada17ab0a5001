package graft.operators

import org.apache.spark.sql.functions._
import graft.{LocalGateHarness, SparkSpec}

/** r18: the broadcast-local brute top-k must be BIT-IDENTICAL to the
  * frame pass it short-circuits — registered s1/s5/s15 rows (all three
  * also oracle-hash-gated) and the s16/s24 truth consumers across both
  * paths, plus an edge fixture (self-exclusion, ties, null embedding,
  * sub-k corpus). */
class BruteTopKEquivalenceSpec extends SparkSpec with LocalGateHarness {
  import spark.implicits._

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("local brute top-k ≡ frame: registered s1, s5, s15 rows across paths") {
    Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)](
      ("s1", s => Similarity.s1BruteForceTopK(s, sfDir)),
      ("s5", s => Similarity.s5FilteredTopK(s, sfDir)),
      ("s15", s => Similarity.s15ExternalTopK(s, sfDir))).foreach { case (n, q) =>
      val (frame, local) = framesAndLocal("brute")(collected(q(spark)))
      assert(local.nonEmpty, s"$n empty")
      assert(local == frame, s"$n diverged across paths")
    }
  }

  test("local brute top-k ≡ frame: s16 recall and s24 truth consumers across paths") {
    val (frame, local) = framesAndLocal("brute") {
      Similarity.s16ExternalRecall(spark, sfDir).collect().map(_.toString).toSeq
    }
    assert(local == frame)
  }

  test("local brute top-k ≡ frame on the edge fixture") {
    // ties (two candidates at equal score — id asc), self-exclusion,
    // a null embedding (skipped), a sub-k corpus, an antipodal vector
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
      (4L, null.asInstanceOf[Array[Float]]), (5L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (1L, Array(1f, 0f)), (9L, Array(0.6f, 0.8f)),
      (10L, null.asInstanceOf[Array[Float]]))
      .toDF("qid", "qemb")
    Seq(true, false).foreach { ex =>
      val (frame, local) = framesAndLocal("brute")(
        collected(Similarity.bruteTopKFrame(corpus, queries, 3, ex)))
      assert(local == frame, s"excludeSelf=$ex diverged: $local vs $frame")
      assert(local.nonEmpty)
    }
  }
}
