package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Span

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between the closest ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    val oneToTwenty = (1 to 20).map(_.toDouble)
    assert(math.abs(Stats.percentile(oneToTwenty, 95) - 19.05) < 1e-9)
    assert(Stats.percentile(oneToTwenty, 0) == 1.0)
    assert(Stats.percentile(oneToTwenty, 100) == 20.0)
    assert(Stats.percentile(Seq(7.0), 95) == 7.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L))) == 50)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100)
    assert(Stats.unionLength(Seq((5L, 5L), (8L, 3L))) == 0)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(1, "request", 0, 100, None, "r1"),
      Span(2, "build", 10, 30, Some(1), "r1"),
      Span(3, "exec", 20, 50, Some(1), "r1"),     // overlaps build
      Span(4, "inner", 22, 48, Some(3), "r1"),    // grandchild of request
      Span(5, "write", 60, 70, Some(1), "r1"),
      Span(6, "late", 95, 120, Some(1), "r1"),    // runs past its parent
      Span(7, "other", 0, 40, None, "r2"))
    val self = Stats.selfTimesNs(spans)
    // request: 100 - |[10,50) ∪ [60,70) ∪ [95,100)| = 100 - 55
    assert(self(1) == 45)
    assert(self(2) == 20)
    assert(self(3) == 30 - 26)
    assert(self(4) == 26)
    assert(self(5) == 10)
    assert(self(6) == 25)
    assert(self(7) == 40)
  }
}
