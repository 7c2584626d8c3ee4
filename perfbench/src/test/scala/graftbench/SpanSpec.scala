package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Double, end: Double) =
    Span(id, s"s$id", parent, "run", start, end)

  test("self time subtracts direct children only") {
    // root [0, 10000) ms; children [1000, 3000) and [5000, 9000);
    // grandchild [6000, 8000) inside the second child
    val spans = Seq(span(0, -1, 0, 10000), span(1, 0, 1000, 3000), span(2, 0, 5000, 9000),
      span(3, 2, 6000, 8000))
    assert(Span.selfSeconds(spans(0), spans) == 4.0)
    assert(Span.selfSeconds(spans(1), spans) == 2.0)
    assert(Span.selfSeconds(spans(2), spans) == 2.0)
    assert(Span.selfSeconds(spans(3), spans) == 2.0)
    // self times of a tree add up to the root's wall time
    assert(spans.map(Span.selfSeconds(_, spans)).sum == spans(0).seconds)
  }

  test("overlapping and out-of-window children are counted once, clipped") {
    val spans = Seq(span(0, -1, 0, 1000), span(1, 0, 100, 600), span(2, 0, 400, 800),
      span(3, 0, 900, 1500))
    // covered: [100, 800) + [900, 1000) = 800 ms
    assert(Span.selfSeconds(spans(0), spans) == 0.2)
    assert(Span.covered(Seq((0.0, 1.0), (2.0, 3.0), (2.5, 4.0)), 0.5, 3.5) == 2.0)
    assert(Span.covered(Nil, 0, 10) == 0.0)
  }
}
