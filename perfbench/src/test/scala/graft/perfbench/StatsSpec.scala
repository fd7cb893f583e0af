package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def samples(n: Int): Seq[Double] = (1 to n).map(_.toDouble).reverse

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail needs at least ten samples beyond the reported percentile") {
    assert(Stats.tail(samples(19)).isEmpty)
    assert(Stats.tail(samples(20)).contains(50.0 -> 10.0))
    assert(Stats.tail(samples(39)).contains(50.0 -> 20.0))
    assert(Stats.tail(samples(40)).contains(75.0 -> 30.0))
    assert(Stats.tail(samples(100)).contains(90.0 -> 90.0))
    assert(Stats.tail(samples(199)).map(_._1).contains(90.0))
    assert(Stats.tail(samples(200)).contains(95.0 -> 190.0))
    assert(Stats.tail(samples(1000)).contains(99.0 -> 990.0))
    assert(Stats.tail(samples(10000)).contains(99.9 -> 9990.0))
  }

  test("every reported tail value has exactly ten or more samples above it") {
    for (n <- 20 to 400) {
      val xs = samples(n)
      val (_, v) = Stats.tail(xs).get
      assert(xs.count(_ > v) >= 10, s"n = $n")
    }
  }

  test("covered length merges overlapping intervals and clips to the window") {
    assert(Stats.coveredLength(Seq(10L -> 40L, 30L -> 60L, 90L -> 120L), 0L, 100L) == 60L)
    assert(Stats.coveredLength(Seq(10L -> 20L, 20L -> 30L), 0L, 100L) == 20L)
    assert(Stats.coveredLength(Seq(-50L -> 5L, 200L -> 300L), 0L, 100L) == 5L)
    assert(Stats.coveredLength(Nil, 0L, 100L) == 0L)
  }
}
