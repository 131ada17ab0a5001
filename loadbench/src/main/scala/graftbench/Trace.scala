package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one op, gathered from listener events. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, taskRunMs, shuffleBytes, inputBytes = 0L
  var queries, planNs, filesRead, filesListed, rewrites = 0L
  /** (job id, job group, start ms, end ms) */
  val jobSpans = ArrayBuffer[(Int, String, Long, Long)]()
}

/** Process-wide JVM and codegen counters, read before and after an op. */
final case class JvmSample(cpuNs: Long, jitMs: Long, gcMs: Long, compiles: Long,
    compileNs: Long) {
  def -(o: JvmSample): JvmSample = JvmSample(cpuNs - o.cpuNs, jitMs - o.jitMs, gcMs - o.gcMs,
    compiles - o.compiles, compileNs - o.compileNs)
}

object JvmSample {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  def now(): JvmSample = JvmSample(
    os.getProcessCpuTime,
    jit.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)
}

/** One traced op: its own span (start to end), a build and an exec child
  * span, and one child span per Spark job, all tied together by the job
  * group the runner set before the call. Op times are monotonic-clock
  * ns, job times ms since the epoch (as Spark reports them). */
final case class Span(op: Gen.Op, group: String, startNs: Long, buildNs: Long, endNs: Long,
    spark: SparkCounters, jvm: JvmSample, files: FileDelta, userBytes: Long, ok: Boolean) {
  def wallMs: Double = (endNs - startNs) / 1e6
  def buildMs: Double = (buildNs - startNs) / 1e6
  def execMs: Double = (endNs - buildNs) / 1e6
  /** Op wall time not covered by any of its Spark jobs. */
  def outsideJobsMs: Double = {
    val iv = spark.jobSpans.map(j => (j._3, j._4)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallMs - covered)
  }
}

/** Data files a write left behind: new files and their bytes, and the
  * file count of the workload's stores afterwards. */
final case class FileDelta(filesWritten: Long, bytesWritten: Long, storeFiles: Long)

/** Listens to one session. Events are attributed to the op running when
  * they were posted: the runner drains the bus before and after each op,
  * and only one op runs at a time. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var cur = new SparkCounters
  private val jobStarts = scala.collection.mutable.Map[Int, (String, Long)]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(): Unit = { ListenerDrain(spark.sparkContext); cur = new SparkCounters }
  def end(): SparkCounters = { ListenerDrain(spark.sparkContext); cur }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    cur.jobs += 1
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStarts(e.jobId) = (group, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach { case (g, t) => cur.jobSpans += ((e.jobId, g, t, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = cur.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskCpuNs += m.executorCpuTime
      cur.taskRunMs += m.executorRunTime
      cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      cur.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = cur
    c.queries += 1
    c.planNs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    Tracer.nodes(qe.executedPlan).foreach {
      case scan: FileSourceScanExec =>
        c.filesRead += scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
        c.filesListed += scan.relation.location.inputFiles.length
      case _ =>
    }
    c.rewrites += Tracer.rewrites(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Every physical node of an executed plan, through adaptive stages and
    * subqueries (dynamic partition pruning runs its scans there). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Bounded top-k aggregates that graft.plans.WindowTopKRewrite put in
    * the optimized plan (the rule is their only producer). */
  def rewrites(qe: QueryExecution): Long =
    qe.optimizedPlan.collectWithSubqueries { case n => n.expressions }.flatten
      .map(_.collect { case t: graft.functions.TopKRowsByScore => t }.size.toLong).sum
}
