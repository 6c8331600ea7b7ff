package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99.9) == 7.0)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(999).contains(98.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    for (n <- 1 to 3000; p <- Stats.tailPercentile(n))
      assert(n - Stats.rank(p, n) >= Stats.MinBeyond, s"n=$n p=$p")
  }

  test("summaries state their sample count and omit an unsupported tail") {
    val s = Stats.summary(Seq(1.0, 2.0, 3.0))
    assert(s("samples") == 3 && s("p50") == 2.0 && !s.contains("tail"))
    assert(Stats.summary((1 to 100).map(_.toDouble))("tail_pct") == 90.0)
    assert(Stats.summary(Nil) == Map("samples" -> 0))
  }
}
