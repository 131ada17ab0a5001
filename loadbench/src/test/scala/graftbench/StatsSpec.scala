package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def qualifies(p: Int, n: Int): Boolean =
    Stats.rank(p, n) > n / 2 + 1 && n - Stats.rank(p, n) >= Stats.TailBeyond

  test("the tail is never the median and has at least ten samples beyond it") {
    (1 to 400).foreach { n =>
      val xs = (1 to n).map(_.toDouble).reverse // distinct, unsorted
      Stats.tail(xs).foreach { case (p, v) =>
        assert(v > Stats.median(xs), s"n=$n: p$p = $v is not above the median")
        assert(n - Stats.rank(p, n) >= Stats.TailBeyond, s"n=$n: p$p")
        assert(v == Stats.rank(p, n).toDouble, s"n=$n: p$p is not its nearest-rank sample")
      }
    }
  }

  test("the tail is the highest percentile that qualifies") {
    (1 to 400).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val want = (99 to 51 by -1).find(qualifies(_, n))
      assert(Stats.tail(xs).map(_._1) == want, s"n=$n")
    }
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90))
    assert(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99))
  }

  test("too few samples give no tail rather than the median") {
    assert(Stats.minTailSamples == 23)
    assert(Stats.tail(Seq.fill(22)(1.0)).isEmpty)
    assert(Stats.tail((1 to 23).map(_.toDouble)).contains((56, 13.0)))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
