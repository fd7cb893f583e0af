package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0, start, end, (end - start) * 1000000L)

  test("self time subtracts the union of the children, clipped to the parent") {
    val parent = span(0, -1, 0, 100)
    val kids = Seq(span(1, 0, 10, 40), span(2, 0, 30, 60), span(3, 0, 90, 120))
    assert(Span.selfMs(parent, kids) == 40L)
  }

  test("a span without children is all self time") {
    assert(Span.selfMs(span(0, -1, 5, 25), Nil) == 20L)
  }

  test("children covering the whole span leave no self time") {
    val parent = span(0, -1, 0, 50)
    assert(Span.selfMs(parent, Seq(span(1, 0, 0, 30), span(2, 0, 25, 50))) == 0L)
  }
}
