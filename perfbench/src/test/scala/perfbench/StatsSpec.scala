package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    val t = Stats.tail(xs)
    // rank 20 of 30: ten samples (21..30) lie beyond it
    assert(t.value == 20.0)
    assert(math.abs(t.percentile - 200.0 / 3) < 1e-9)
    assert(xs.count(_ > t.value) == 10)
    val t40 = Stats.tail((1 to 40).map(_.toDouble).reverse)
    assert(t40.value == 30.0 && t40.percentile == 75.0)
  }

  test("tail: ten samples or fewer have no tail and report their maximum") {
    val t = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(t.value == 3.0 && t.percentile.isNaN)
    assert(Stats.tail((1 to 10).map(_.toDouble)).percentile.isNaN)
    val t11 = Stats.tail((1 to 11).map(_.toDouble))
    assert(t11.value == 1.0 && !t11.percentile.isNaN)
  }

  test("median: odd and even sizes") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts overlapping children once") {
    // parent [0, 100); children overlap on [20, 30) and one leaks past the end
    val children = Seq((10L, 30L), (20L, 40L), (90L, 120L))
    assert(Stats.coveredWithin(0L, 100L, children) == 40L)
    assert(Stats.selfTime(0L, 100L, children) == 60L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    // nested children cover nothing extra
    assert(Stats.selfTime(0L, 100L, Seq((10L, 50L), (20L, 30L))) == 60L)
  }

  test("covered merges touching and disjoint intervals") {
    assert(Stats.covered(Seq((0L, 10L), (10L, 20L), (30L, 35L))) == 25L)
    assert(Stats.covered(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("write amplification is bytes written per byte needing maintenance") {
    assert(Stats.writeAmp(300L, 100L) == 3.0)
    assert(Stats.writeAmp(50L, 100L) == 0.5)
    intercept[IllegalArgumentException](Stats.writeAmp(1L, 0L))
  }

  test("core utilisation is task time over wall times cores") {
    assert(Stats.coreUtil(8.0, 4.0, 4) == 0.5)
    assert(Stats.coreUtil(2.0, 2.0, 1) == 1.0)
    intercept[IllegalArgumentException](Stats.coreUtil(1.0, 0.0, 4))
  }

  test("skew is max over median, 1 for one value") {
    assert(Stats.skew(Seq(1.0, 2.0, 6.0)) == 3.0)
    assert(Stats.skew(Seq(7.0)) == 1.0)
    assert(Stats.skew(Nil) == 1.0)
  }
}
