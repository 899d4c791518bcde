package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private def ms(n: Int) = (1 to n).map(_.toDouble)

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("p90 is reported once at least 10 samples lie beyond it") {
    assert(Stats.percentile(ms(100), 0.9) == Right(90.0))
    assert(Stats.percentile(ms(200), 0.9) == Right(180.0))
  }

  test("p90 of a sample too small to leave 10 beyond it is flagged") {
    Seq(0, 1, 9, 50, 99).foreach { n =>
      val r = Stats.percentile(ms(n), 0.9)
      assert(r.isLeft, s"n=$n")
      assert(r.left.exists(_.startsWith("too small")))
    }
  }

  test("p50 needs at least 20 samples") {
    assert(Stats.percentile(ms(19), 0.5).isLeft)
    assert(Stats.percentile(ms(20), 0.5) == Right(10.0))
  }
}
