package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p99 is refused with fewer than 10 samples beyond it") {
    val xs = (1 to 999).map(_.toDouble)
    // rank 990 of 999 leaves 9 samples above
    assert(Stats.percentile(xs, 99).isEmpty)
    val ys = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(ys, 99).contains(990.0))
  }

  test("p50 of a small sample is reported") {
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0, 5.0, 4.0) ++ (6 to 30).map(_.toDouble), 50)
      .contains(15.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("median of an even sample averages the middle pair") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the batch-time fit recovers a fixed and a per-event cost") {
    val pts = Seq(1000, 10000, 50000).flatMap(n => Seq.fill(3)((n.toDouble, 500 + 0.02 * n)))
    val (a, b) = Stats.fit(pts)
    assert(math.abs(a - 500) < 1e-6 && math.abs(b - 0.02) < 1e-9)
  }
}
