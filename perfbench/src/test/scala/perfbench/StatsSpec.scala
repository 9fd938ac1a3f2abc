package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val eleven = Stats.tail((1 to 11).map(_.toDouble).reverse).get
    assert(eleven.value == 1.0 && eleven.n == 11)
    assert(math.abs(eleven.percentile - 100.0 / 11) < 1e-9)
    val twenty = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(twenty.value == 10.0 && twenty.percentile == 50.0)
    val hundred = Stats.tail(scala.util.Random.shuffle((1 to 100).map(_.toDouble))).get
    assert(hundred.value == 90.0 && hundred.percentile == 90.0)
    // exactly ten samples lie above the reported value
    val xs = (1 to 37).map(i => (i * 7919 % 101).toDouble)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
  }

  test("union of job intervals counts overlap once and clips to the span") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (15L, 30L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40) // nested
    assert(Stats.unionLength(Seq((20L, 30L), (30L, 40L)), 0, 100) == 20) // touching
    assert(Stats.unionLength(Seq((-50L, 10L), (90L, 200L)), 0, 100) == 20) // clipped
    assert(Stats.unionLength(Seq((150L, 200L)), 0, 100) == 0) // outside
  }

  test("driver time is span wall minus the union of its job intervals") {
    assert(Stats.driverMs(0, 100, Nil) == 100)
    assert(Stats.driverMs(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a job started before the span only counts inside it
    assert(Stats.driverMs(100, 200, Seq((50L, 150L))) == 50)
  }
}
