package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** The one size gate of every broadcast-local kernel (HNSW walk, delete
  * and reporter, brute-force top-k, MMR, the graph kernels, connected
  * components, PQ training): input that fits the driver budget is
  * collected and runs the kernel's driver-side twin; anything larger
  * keeps the distributed frame path, the only shape that works
  * corpus-sized. [[MaxBytesKey]] bounds the TOTAL that concurrent local
  * runs hold: each reserves its nominal input size (rows × a fixed row
  * width) from one driver-wide pool until its local body returns, and a
  * call the pool cannot cover takes its frames. Budget 0 forces every
  * kernel onto its frames (the equivalence specs do). Every decision is
  * counted per kernel ([[decisions]]). */
object LocalGate {

  val MaxBytesKey = "spark.graft.local.maxBytes"
  val DefaultMaxBytes: Long = 256L << 20

  /** Nominal bytes of one vector row: Dim floats plus id/score/header. */
  val VectorRowBytes: Long = operators.Similarity.Dim.toLong * 4L + 36L
  /** Nominal bytes of one (long, long) pair row. */
  val PairRowBytes: Long = 16L

  final case class Decisions(local: Long, frame: Long, bytes: Long)

  /** The reservation one local run holds. */
  final class Grant private[LocalGate] (private var held: Long) {
    def bytes: Long = held
    /** Rows of `rowBytes` a `limit(rows + 1)` collect may fetch within
      * the reservation. */
    def rows(rowBytes: Long): Int =
      math.max(0L, math.min(held / rowBytes - 1L, Int.MaxValue - 1L)).toInt
    /** Shrink the reservation to what the local path actually holds. */
    def keep(bytes: Long): Unit = if (bytes < held) {
      inUse.addAndGet(bytes - held); held = bytes
    }
  }

  private val inUse = new AtomicLong(0L)
  private val counts = new ConcurrentHashMap[String, Decisions]()

  /** Bytes reserved by running local paths, driver-wide. */
  def reserved: Long = inUse.get()

  /** Route counts and locally reserved bytes per kernel since JVM start. */
  def decisions: Map[String, Decisions] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toMap
  }

  def summary: String = decisions.toSeq.sortBy(_._1).map { case (k, d) =>
    s"$k local=${d.local} frame=${d.frame} bytes=${d.bytes}"
  }.mkString("; ")

  /** Route one kernel call. `eligible` is the kernel's own input-shape
    * check. `sizes` are lazily measured byte sizes, summed in order only
    * while the sum fits (list the request-sized side first and a
    * corpus-sized count is never paid for nothing). With no sizes the
    * pool grants what it can up to the budget and the local body bounds
    * its collect by the [[Grant]]. None means: run the frame path
    * (ineligible, over budget, pool exhausted, or the local body
    * declined). The reservation is released before returning. */
  def apply[A](spark: SparkSession, kernel: String, eligible: Boolean,
      sizes: (() => Long)*)(local: Grant => Option[A]): Option[A] = {
    val max = spark.conf.get(MaxBytesKey, DefaultMaxBytes.toString).toLong
    val ok = eligible && max > 0L
    var need = 0L
    val it = sizes.iterator
    while (ok && need <= max && it.hasNext) need += it.next()()
    val grant = if (ok && need <= max) reserve(need, max, sizes.isEmpty) else None
    val out = grant.flatMap { g =>
      try local(g).map(a => (a, g.bytes))
      finally inUse.addAndGet(-g.bytes)
    }
    counts.merge(kernel, out.fold(Decisions(0L, 1L, 0L))(o => Decisions(1L, 0L, o._2)),
      (a, b) => Decisions(a.local + b.local, a.frame + b.frame, a.bytes + b.bytes))
    out.map(_._1)
  }

  /** Reserve `bytes`, or with `all` whatever the pool holds below `max`. */
  private def reserve(bytes: Long, max: Long, all: Boolean): Option[Grant] = {
    var cur = inUse.get()
    while (if (all) cur < max else cur + bytes <= max) {
      val want = if (all) max - cur else bytes
      if (inUse.compareAndSet(cur, cur + want)) return Some(new Grant(want))
      cur = inUse.get()
    }
    None
  }
}
