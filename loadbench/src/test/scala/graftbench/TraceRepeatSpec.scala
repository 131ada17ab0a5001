package graftbench

import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Two traced replays of the same seeded sequence, each on freshly built
  * inputs, must do the same Spark and file work op for op. */
class TraceRepeatSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("loadbench-trace").toFile
  private lazy val spark = Main.session(dir.getPath)

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def tracedRun(workload: String, run: Int, n: Int): Seq[Span] = {
    val wl = Workload(workload, spark, 5L)
    wl.setup(s"$dir/$workload-$run")
    val tracer = new Tracer(spark)
    try Gen.opSequence(workload, 5L, n).map(op => Main.tracedOp(spark, wl, tracer)(op)._2)
    finally tracer.close()
  }

  Seq("usage_analytics" -> 20, "vector_ingest" -> 14, "rag_serve" -> 2).foreach { case (w, n) =>
    test(s"$w: jobs, stages, files read and files written repeat across two traced runs") {
      val a = tracedRun(w, 1, n)
      val b = tracedRun(w, 2, n)
      assert(a.forall(_.ok) && b.forall(_.ok), "an op failed")
      val diff = Layers.differences(a, b)
      if (diff.nonEmpty) info(s"counters that do not repeat: ${diff.mkString("; ")}")
      assert(diff.isEmpty, diff.mkString("; "))
    }
  }
}
