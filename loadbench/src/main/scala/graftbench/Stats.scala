package graftbench

/** Latency summaries. */
object Stats {

  /** Samples that must lie beyond a reported tail percentile. */
  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  /** Smallest sample count for which [[tail]] is defined. */
  def minTailSamples: Int = Iterator.from(1).find(n => tail(Seq.fill(n)(0.0)).isDefined).get

  /** The highest integer percentile (51..99) whose nearest-rank sample has
    * at least [[TailBeyond]] samples ranked after it, as (percentile,
    * value). The sample must rank above the upper middle one, so the
    * result is never the median; None when too few samples allow that. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    val upperMiddle = n / 2 + 1
    (99 to 51 by -1).iterator
      .map(p => (p, rank(p, n)))
      .find { case (_, r) => r > upperMiddle && n - r >= TailBeyond }
      .map { case (p, r) => (p, s(r - 1)) }
  }
}
