package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def sample(n: Int) = (1 to n).map(_.toDouble)

  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.highestSupported(sample(1000)) == Some((99.0, 990.0)))
    assert(Stats.highestSupported(sample(999)) == Some((98.0, 980.0)))
    assert(Stats.highestSupported(sample(5000)) == Some((99.5, 4975.0)))
    assert(Stats.highestSupported(sample(10000)) == Some((99.9, 9990.0)))
    assert(Stats.highestSupported(sample(100)) == Some((90.0, 90.0)))
    assert(Stats.highestSupported(sample(15)) == None)
  }

  test("nearest-rank percentile counts the samples beyond it") {
    assert(Stats.percentile(sample(200), 95) == ((190.0, 10)))
    assert(Stats.percentile(sample(1), 95) == ((1.0, 0)))
  }

  test("median and quartiles interpolate") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }
}
