package graft.tools

/** Dev tool: time individual SparkEntry queries under the Bench session
  * shape. Usage: runMain graft.tools.TimeQueries <sfDir> [--plain] name...
  * (--plain builds the session without GraftExtensions, to isolate the
  * optimizer rule's cost). Each query: one untimed warmup + 3 timed runs.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val plain = args.contains("--plain")
    // --conf k=v: extra session configs (e.g. spark.graft.local.maxBytes=0)
    val confs = args.sliding(2).collect {
      case Array("--conf", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    val names = args.drop(1).filterNot(a => a.startsWith("--") || a.contains('='))
    val spark = confs.foldLeft(graft.SessionTuning.driver(defaultCores = 32, extensions = !plain)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs: Seq[String] =
      if (names.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted else names.toSeq
    qs.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def once(): Unit = fn(spark, dir).write.format("noop").mode("overwrite").save()
      once()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); once(); (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s min=${ts.min}%6.3f median=${ts.sorted.apply(1)}%6.3f")
    }
    // --calibrate: also time the Bench machine-epoch calibration workload
    // (what the `_calibration` BASELINE.md row pins)
    if (args.contains("--calibrate"))
      println(f"${"_calibration"}%-28s min=${graft.Bench.calibrate(spark)}%6.3f")
    spark.stop()
  }
}
