package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("nearest-rank percentiles return a measured sample") {
    val xs = (1 to 10).map(_.toDouble)
    assert(percentile(xs, 50) === 5.0)
    assert(percentile(xs, 90) === 9.0)
    assert(percentile(xs, 91) === 10.0)
    assert(percentile(xs, 100) === 10.0)
    assert(percentile(xs, 1) === 1.0)
    assert(percentile(Seq(3.0), 99) === 3.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.0)
    assert(percentile(xs.reverse, 50) === percentile(xs, 50))
  }

  test("percentiles of no samples or out of range are refused") {
    assertThrows[IllegalArgumentException](percentile(Nil, 50))
    assertThrows[IllegalArgumentException](percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](percentile(Seq(1.0), 101))
  }

  test("sample counts that leave ten samples beyond a percentile") {
    assert(samplesFor(50) === 20)
    assert(samplesFor(90) === 100)
    assert(samplesFor(99) === 1000)
    // with that many samples the percentile really has ten above it
    for (p <- Seq(50.0, 80.0, 90.0, 99.0)) {
      val xs = (1 to samplesFor(p)).map(_.toDouble)
      assert(xs.count(_ > percentile(xs, p)) >= 10, s"p$p")
    }
  }
}
