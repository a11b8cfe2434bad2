package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    def n(k: Int) = (1 to k).map(_.toDouble)
    assert(Stats.tail(n(20))._1 == "p50")
    assert(Stats.tail(n(39))._1 == "p50")
    assert(Stats.tail(n(40))._1 == "p75")
    assert(Stats.tail(n(100))._1 == "p90")
    assert(Stats.tail(n(200))._1 == "p95")
    assert(Stats.tail(n(1000))._1 == "p99")
    assert(Stats.tail(n(10000))._1 == "p99.9")
    assert(Stats.tail(n(100))._2 == Stats.percentile(n(100), 90))
  }

  test("a sample too small for any ladder percentile reports its maximum") {
    assert(Stats.tail(Seq(3.0, 9.0, 5.0)) == ("max", 9.0))
  }

  test("span self time subtracts the union of its children") {
    val parent = Span(0, -1, 1, "op", 0, 100)
    val kids = Seq(Span(1, 0, 1, "a", 10, 40), Span(2, 0, 1, "b", 30, 50),
      Span(3, 1, 1, "nested", 12, 20))
    val all = parent +: kids
    assert(Spans.selfNs(parent, all) == 60)
    assert(Spans.selfNs(kids.head, all) == 22)
    assert(Spans.unionLength(Seq((0L, 5L), (5L, 7L), (9L, 10L), (2L, 3L))) == 8)
  }
}
