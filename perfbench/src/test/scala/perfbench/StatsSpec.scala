package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def sample(n: Int) = (1 to n).map(_.toDouble)

  test("tail is the highest ladder percentile with at least ten samples beyond it") {
    assert(Stats.tail(sample(40))._1 == "p75")
    assert(Stats.tail(sample(99))._1 == "p75")
    assert(Stats.tail(sample(100))._1 == "p90")
    assert(Stats.tail(sample(200))._1 == "p95")
    assert(Stats.tail(sample(1000))._1 == "p99")
    assert(Stats.tail(sample(10000))._1 == "p99.9")
  }

  test("a sample too small for p75 reports its maximum, named max") {
    assert(Stats.tail(sample(39)) == ("max", 39.0))
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ("max", 3.0))
  }

  test("percentiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(sample(101), 90) == 91.0)
    assert(Stats.tail(sample(100))._2 == Stats.percentile(sample(100), 90))
  }
}
