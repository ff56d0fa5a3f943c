package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail rule picks the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(68).contains(85.0))
    assert(Stats.tailPercentile(99).contains(85.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(210).contains(95.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("percentiles interpolate linearly between order statistics") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(math.abs(Stats.percentile((1 to 10).map(_.toDouble), 90) - 9.1) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) == 5.0)
  }

  test("tail reports the percentile it used") {
    val xs = (1 to 150).map(_.toDouble)
    val (p, v) = Stats.tail(xs)
    assert(p == 90.0)
    assert(v == Stats.hd(xs, 90))
    assertThrows[IllegalArgumentException](Stats.tail(Seq(1.0, 2.0)))
  }

  test("the tail mean averages the samples beyond the tail percentile") {
    val (p, m) = Stats.tailMean((1 to 150).map(_.toDouble))
    assert(p == 90.0)
    assert(m == 143.0) // the 15 largest, 136..150
    assert(Stats.tailMean((1 to 60).map(_.toDouble)) == (80.0, 54.5)) // 49..60
    assertThrows[IllegalArgumentException](Stats.tailMean(Seq(1.0)))
  }

  test("the Harrell-Davis percentile weighs every order statistic") {
    assert(math.abs(Stats.hd((1 to 9).map(_.toDouble), 50) - 5.0) < 1e-9)
    assert(math.abs(Stats.hd(Seq(4.0, 1.0, 3.0, 2.0), 50) - 2.5) < 1e-9)
    assert(Stats.hd(Seq(7.0), 99) == 7.0)
    val xs = (1 to 150).map(_.toDouble)
    val v = Stats.hd(xs, 90)
    assert(v > Stats.percentile(xs, 88) && v < Stats.percentile(xs, 92))
    // two clusters with the median in the gap: the order statistic sits on
    // one side, the estimate between them
    val gap = Seq.fill(10)(100.0) ++ Seq.fill(11)(300.0)
    assert(Stats.median(gap) == 300.0)
    val h = Stats.hd(gap, 50)
    assert(h > 200.0 && h < 300.0)
  }
}
