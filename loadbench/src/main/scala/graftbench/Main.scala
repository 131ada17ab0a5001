package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import Gen.Op

/** One closed-loop client replaying a workload's fixed op sequence.
  *
  * Phases: build the inputs, run the untimed warm-up prefix, then the
  * timed phase: a fixed number of whole cycles of the sequence, so every
  * run times the same ops whatever their speed (`--seconds` only caps
  * it). With `--trace 1` a traced phase of the same cycles follows, and
  * the per-layer metrics come from it.
  *
  * Prints human-readable `#` lines, then `RESULT <json>` as its last line.
  */
object Main {
  /** No timed cycle starts after this many times `--seconds`. */
  val CapFactor = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workdir: String, traceDir: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("workdir"), need("trace-dir"))
  }

  def session(workdir: String): SparkSession = {
    // Half the cores run tasks; the client, JIT compiler and GC threads,
    // busy as often as the executors in these overhead-bound ops, get the
    // rest. Executor threads plus the client thread stay within the cores.
    val threads = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors / 2))
    val b = SparkSession.builder().master(s"local[$threads]").appName("graft-loadbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", threads.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
    val s = graft.SessionTuning.shuffleScaleOut(b, threads).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One finished op. Times are ns on the monotonic clock. */
  final case class Sample(op: Op, startNs: Long, buildNs: Long, endNs: Long,
      error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Runs one op under its own job group; failures (thrown or failed
    * checks) are recorded, never rethrown. */
  def runOp(spark: SparkSession, wl: Workload, op: Op): Sample = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-${op.index}", op.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var tb = 0L
    try {
      val check = wl.run(op, () => tb = System.nanoTime())
      val t1 = System.nanoTime()
      check()
      Sample(op, t0, if (tb == 0L) t1 else tb, t1, None)
    } catch {
      case NonFatal(e) =>
        val t1 = System.nanoTime()
        Sample(op, t0, if (tb == 0L) t1 else tb, t1, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally sc.clearJobGroup()
  }

  /** Runs `op` as [[runOp]] does, and records its span: the Spark events
    * posted while it ran, JVM counter deltas, and the files it wrote. */
  def tracedOp(spark: SparkSession, wl: Workload, tracer: Tracer)(op: Op): (Sample, Span) = {
    val before = wl.storeDirs.flatMap(Workload.dataFiles).toMap
    tracer.begin()
    val j0 = JvmSample.now()
    val s = runOp(spark, wl, op)
    val j1 = JvmSample.now()
    val c = tracer.end()
    val after = wl.storeDirs.flatMap(Workload.dataFiles).toMap
    val fresh = after.keySet -- before.keySet
    (s, Span(op, s"op-${op.index}", s.startNs, s.buildNs, s.endNs, c, j1 - j0,
      FileDelta(fresh.size, fresh.toSeq.map(after).sum, after.size),
      wl.userBytes(op), s.error.isEmpty))
  }

  /** `cycles` whole cycles of ops from `first` on. As a safety cap, no
    * cycle starts once `capSeconds` have passed; the run then reports
    * what it timed and says so. */
  def timedPhase(ops: IndexedSeq[Op], first: Int, cycle: Int, cycles: Int, capSeconds: Int)
      (next: Op => Sample): (Seq[Sample], Double) = {
    val out = ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    val cap = t0 + capSeconds * 1000000000L
    var c = 0
    while (c < cycles && System.nanoTime() < cap) {
      (0 until cycle).foreach(j => out += next(ops(first + c * cycle + j)))
      c += 1
    }
    if (c < cycles) println(s"# timed phase capped after $c of $cycles cycles ($capSeconds s)")
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after full collections. Spark releases broadcast and
    * checkpoint blocks from a cleaner thread once a collection has found
    * them unreachable, so the collection repeats after it has had time. */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def fmt(x: Double): String = java.math.BigDecimal.valueOf(x).toPlainString

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(a: Args): Unit = {
    new File(a.workdir).mkdirs()
    val spark = session(a.workdir)
    val wl = Workload(a.workload, spark, a.seed)
    // the sequence is generated once, long enough for any run
    val seq = Gen.opSequence(a.workload, a.seed, 20000)

    val t0 = System.nanoTime()
    wl.setup(s"${a.workdir}/data")
    val buildS = (System.nanoTime() - t0) / 1e9
    val warmupOps = wl.warmupCycles * wl.cycle
    val warm = (0 until warmupOps).map(i => runOp(spark, wl, seq(i)))
    val warmS = (System.nanoTime() - t0) / 1e9 - buildS
    val setup = buildS + warmS
    println(s"# workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}" +
      s" spark_threads=${spark.sparkContext.defaultParallelism}")
    println(f"# setup_s=$setup%.3f (build $buildS%.2f s + warm-up $warmupOps ops $warmS%.2f s)")

    def phase(first: Int)(next: Op => Sample) =
      timedPhase(seq, first, wl.cycle, wl.timedCycles, CapFactor * a.seconds)(next)
    val (timed, wall) = phase(warmupOps)(runOp(spark, wl, _))
    val all = warm ++ timed
    wl.notes(seq.take(warmupOps + timed.size)).foreach(n => println(s"# inputs: $n"))
    val ok = timed.filter(_.error.isEmpty)
    val throughput = ok.size / wall
    val reads = ok.filter(!_.op.write).map(_.ms)
    val writes = ok.filter(_.op.write).map(_.ms)
    report("read", reads, ok.filter(!_.op.write))
    report("write", writes, ok.filter(_.op.write))
    ok.groupBy(_.op.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val (h1, h2) = ss.splitAt(ss.size / 2)
      val halves = if (h1.isEmpty) "" else f" | halves ${Stats.median(h1.map(_.ms))}%.1f ${Stats.median(h2.map(_.ms))}%.1f"
      println(f"# op $n%-15s n=${ss.size}%4d p50=${Stats.median(ss.map(_.ms))}%9.1f ms$halves")
    }
    println(f"# throughput_ops=$throughput%.3f 1/s (${ok.size} ops in $wall%.2f s)")
    all.flatMap(s => s.error.map(e => s"# FAILED op ${s.op.index} ${s.op.name}: $e")).take(20)
      .foreach(println)

    val (metrics, traceFailed, traceOps) =
      if (!a.trace) {
        val heap = heapRetainedMb()
        val end = wl.endMetrics()
        end.foreach { case (n, v, u) => println(f"# $n=$v%.3f $u") }
        println(f"# heap_retained_mb=$heap%.1f MB")
        (Seq(
          ("setup_s", setup, "s"),
          ("read_latency_p50_ms", Stats.median(reads), "ms"),
          ("read_latency_tail_ms", Stats.tail(reads).map(_._2).getOrElse(throw
            new IllegalStateException(s"${reads.size} reads cannot place a tail")), "ms"),
          ("throughput_ops", throughput, "1/s"),
          ("heap_retained_mb", heap, "MB")), 0, 0)
      } else {
        val tracer = new Tracer(spark)
        val spans = ArrayBuffer[Span]()
        val (traced, twall) = phase(warmupOps + timed.size) { op =>
          val (s, span) = tracedOp(spark, wl, tracer)(op)
          spans += span
          s
        }
        tracer.close()
        val tthroughput = traced.count(_.error.isEmpty) / twall
        val path = writeTrace(a, spans.toSeq)
        println(s"# trace: ${spans.size} op spans written to $path")
        val layers = Layers(wl, spans.toSeq, throughput - tthroughput)
        layers.foreach { case (n, v, u) => println(f"# layer $n%-40s $v%14.3f $u") }
        println(f"# tracing overhead: untraced $throughput%.3f - traced $tthroughput%.3f" +
          f" = ${throughput - tthroughput}%.3f ops/s")
        traced.flatMap(s => s.error.map(e => s"# FAILED traced op ${s.op.index} ${s.op.name}: $e"))
          .take(20).foreach(println)
        (layers.filter(l => Layers.Exported(l._1)), traced.count(_.error.nonEmpty), traced.size)
      }

    val failed = all.count(_.error.nonEmpty) + traceFailed
    val attempted = all.size + traceOps
    println(s"RESULT {\"correct\": ${failed == 0}, \"attempted\": $attempted, " +
      s"\"failed\": $failed, \"metrics\": ${metricsJson(metrics)}}")
    spark.stop()
  }

  private def report(kind: String, xs: Seq[Double], ss: Seq[Sample]): Unit = {
    if (xs.isEmpty) { println(s"# $kind latency: no ops of this type"); return }
    val tail = Stats.tail(xs).fold(s"tail n/a (needs n >= ${Stats.minTailSamples})") {
      case (p, v) => f"tail p$p=$v%.1f ms (${xs.size - Stats.rank(p, xs.size)} samples beyond)"
    }
    // each op kind split in halves, so both halves hold the same mix of kinds
    val (h1, h2) = ss.groupBy(_.op.name).values.map(k => k.splitAt(k.size / 2))
      .foldLeft((Seq.empty[Sample], Seq.empty[Sample])) { case ((a, b), (x, y)) => (a ++ x, b ++ y) }
    val halves = if (h1.isEmpty) "" else
      f" | first-half p50=${Stats.median(h1.map(_.ms))}%.1f second-half p50=${Stats.median(h2.map(_.ms))}%.1f"
    println(f"# $kind latency: n=${xs.size} p50=${Stats.median(xs)}%.1f ms $tail$halves")
  }

  private def writeTrace(a: Args, spans: Seq[Span]): String = {
    new File(a.traceDir).mkdirs()
    val f = new File(a.traceDir, s"${a.workload}-seed${a.seed}.jsonl")
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach(s => w.println(Layers.spanJson(s)))
    finally w.close()
    f.getPath
  }
}
