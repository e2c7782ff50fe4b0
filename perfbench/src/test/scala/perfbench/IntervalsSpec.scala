package perfbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  test("self time of a span without children is its length") {
    assert(Intervals.self(0, 100, Nil) == 100)
  }

  test("overlapping children are counted once") {
    // [10,40) and [30,60) overlap on [30,40): union is 50
    assert(Intervals.covered(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    assert(Intervals.self(0, 100, Seq((30L, 60L), (10L, 40L))) == 50)
  }

  test("a child nested inside another adds nothing") {
    assert(Intervals.self(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
  }

  test("children are clipped to the span") {
    // a job that started before and ended after the span covers all of it
    assert(Intervals.self(50, 80, Seq((0L, 100L))) == 0)
    assert(Intervals.self(50, 80, Seq((40L, 60L), (75L, 90L))) == 15)
    assert(Intervals.self(50, 80, Seq((0L, 10L), (90L, 95L))) == 30)
  }

  test("disjoint and touching children sum") {
    assert(Intervals.covered(0, 100, Seq((0L, 10L), (10L, 20L), (50L, 60L))) == 30)
  }
}
