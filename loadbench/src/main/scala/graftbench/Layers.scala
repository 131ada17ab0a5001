package graftbench

/** Per-layer metrics of a traced phase, derived from its op spans. */
object Layers {

  /** The per-layer metrics every workload reports in its result line (the
    * `per_layer` list of BENCHMARK.json); per-op rows are printed only. */
  val Exported: Set[String] = Set(
    "operators.read_build_ms", "operators.read_exec_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.outside_jobs_ms_per_op", "spark.plan_ms_per_op",
    "spark.codegen_compiles_per_op", "spark.codegen_ms_per_op",
    "spark.task_cpu_ms_per_op", "spark.task_run_ms_per_op",
    "spark.shuffle_bytes_per_op", "spark.input_bytes_per_op",
    "jvm.process_cpu_ms_per_op", "jvm.jit_ms_per_op", "jvm.gc_ms_per_op",
    "sources.files_read_per_probe", "sources.pruned_share",
    "sources.files_written_per_write", "sources.bytes_written_per_user_byte",
    "sources.store_files", "functions.chunks_embedded_per_s",
    "plans.window_topk_rewrites_per_op", "trace.overhead_ops")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** (name, value, unit) rows; `overhead` is untraced minus traced
    * throughput in ops/s. */
  def apply(workload: Workload, spans: Seq[Span], overhead: Double): Seq[(String, Double, String)] = {
    val reads = spans.filter(!_.op.write)
    val writes = spans.filter(_.op.write)
    def perOp(f: Span => Double) = mean(spans.map(f))
    val perName = spans.groupBy(_.op.name).toSeq.sortBy(_._1).flatMap { case (n, ss) =>
      Seq((s"operators.$n.build_ms", med(ss.map(_.buildMs)), "ms"),
        (s"operators.$n.exec_ms", med(ss.map(_.execMs)), "ms"),
        (s"operators.$n.ops", ss.size.toDouble, "count"))
    }
    val listed = reads.map(_.spark.filesListed).sum
    val ingest = spans.filter(s => workload.chunksEmbedded(s.op) > 0)
    val userBytes = writes.map(_.userBytes).sum
    perName ++ Seq(
      ("operators.read_build_ms", med(reads.map(_.buildMs)), "ms"),
      ("operators.read_exec_ms", med(reads.map(_.execMs)), "ms"),
      ("spark.jobs_per_op", perOp(_.spark.jobs.toDouble), "count"),
      ("spark.stages_per_op", perOp(_.spark.stages.toDouble), "count"),
      ("spark.tasks_per_op", perOp(_.spark.tasks.toDouble), "count"),
      ("spark.outside_jobs_ms_per_op", perOp(_.outsideJobsMs), "ms"),
      ("spark.plan_ms_per_op", perOp(_.spark.planNs / 1e6), "ms"),
      ("spark.codegen_compiles_per_op", perOp(_.jvm.compiles.toDouble), "count"),
      ("spark.codegen_ms_per_op", perOp(_.jvm.compileNs / 1e6), "ms"),
      ("spark.task_cpu_ms_per_op", perOp(_.spark.taskCpuNs / 1e6), "ms"),
      ("spark.task_run_ms_per_op", perOp(_.spark.taskRunMs.toDouble), "ms"),
      ("spark.shuffle_bytes_per_op", perOp(_.spark.shuffleBytes.toDouble), "B"),
      ("spark.input_bytes_per_op", perOp(_.spark.inputBytes.toDouble), "B"),
      ("jvm.process_cpu_ms_per_op", perOp(_.jvm.cpuNs / 1e6), "ms"),
      ("jvm.jit_ms_per_op", perOp(_.jvm.jitMs.toDouble), "ms"),
      ("jvm.gc_ms_per_op", perOp(_.jvm.gcMs.toDouble), "ms"),
      ("sources.files_read_per_probe", mean(reads.map(_.spark.filesRead.toDouble)), "count"),
      ("sources.pruned_share",
        if (listed == 0) 0.0 else 1.0 - reads.map(_.spark.filesRead).sum.toDouble / listed, "ratio"),
      ("sources.files_written_per_write", mean(writes.map(_.files.filesWritten.toDouble)), "count"),
      ("sources.bytes_written_per_user_byte",
        if (userBytes == 0) 0.0 else writes.map(_.files.bytesWritten).sum.toDouble / userBytes, "ratio"),
      ("sources.store_files", spans.lastOption.fold(0.0)(_.files.storeFiles.toDouble), "count"),
      ("functions.chunks_embedded_per_s",
        if (ingest.isEmpty) 0.0
        else ingest.map(s => workload.chunksEmbedded(s.op)).sum / (ingest.map(_.wallMs).sum / 1e3),
        "1/s"),
      ("plans.window_topk_rewrites_per_op", perOp(_.spark.rewrites.toDouble), "count"),
      ("trace.overhead_ops", overhead, "1/s"))
  }

  /** The counters a deterministic run repeats exactly, per op index. */
  def repeatable(spans: Seq[Span]): Seq[(Int, Seq[(String, Long)])] = spans.map { s =>
    s.op.index -> Seq("jobs" -> s.spark.jobs, "stages" -> s.spark.stages,
      "files_read" -> s.spark.filesRead, "files_written" -> s.files.filesWritten)
  }

  /** "op <i> <name>: <counter> a vs b" for every counter two runs disagree on. */
  def differences(a: Seq[Span], b: Seq[Span]): Seq[String] = {
    val rb = repeatable(b).toMap
    repeatable(a).flatMap { case (i, ca) =>
      rb.get(i).toSeq.flatMap { cb =>
        ca.zip(cb).collect { case ((n, x), (_, y)) if x != y =>
          s"op $i ${a.find(_.op.index == i).get.op.name}: $n $x vs $y"
        }
      }
    }
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One span and its children as a JSON object. */
  def spanJson(s: Span): String = {
    val jobs = s.spark.jobSpans.map { case (id, g, t0, t1) =>
      s"""{"name": "job", "job_id": $id, "group": ${q(g)}, "start_ms": $t0, "end_ms": $t1}"""
    }
    val children = Seq(
      s"""{"name": "build", "start_ns": ${s.startNs}, "end_ns": ${s.buildNs}}""",
      s"""{"name": "exec", "start_ns": ${s.buildNs}, "end_ns": ${s.endNs}}""") ++ jobs
    val c = s.spark
    s"""{"op": ${s.op.index}, "name": ${q(s.op.name)}, "write": ${s.op.write}, "ok": ${s.ok}, """ +
      s""""group": ${q(s.group)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
      s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
      s""""task_cpu_ns": ${c.taskCpuNs}, "task_run_ms": ${c.taskRunMs}, """ +
      s""""shuffle_bytes": ${c.shuffleBytes}, "input_bytes": ${c.inputBytes}, """ +
      s""""queries": ${c.queries}, "plan_ns": ${c.planNs}, "files_read": ${c.filesRead}, """ +
      s""""files_listed": ${c.filesListed}, "window_topk_rewrites": ${c.rewrites}, """ +
      s""""process_cpu_ns": ${s.jvm.cpuNs}, "jit_ms": ${s.jvm.jitMs}, "gc_ms": ${s.jvm.gcMs}, """ +
      s""""codegen_compiles": ${s.jvm.compiles}, "codegen_ns": ${s.jvm.compileNs}, """ +
      s""""files_written": ${s.files.filesWritten}, "bytes_written": ${s.files.bytesWritten}, """ +
      s""""store_files": ${s.files.storeFiles}, "user_bytes": ${s.userBytes}, """ +
      s""""children": ${children.mkString("[", ", ", "]")}}"""
  }
}
