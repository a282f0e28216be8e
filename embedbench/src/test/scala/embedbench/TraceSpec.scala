package embedbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, name: String, a: Long, b: Long) =
    Span(id, parent, name, "r", a, b)

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      span(1, 0, "job", 0, 100),
      span(2, 1, "task", 10, 30),
      span(3, 1, "task", 20, 50), // overlaps the first task: counted once
      span(4, 1, "task", 90, 120), // reaches past the parent: clipped
      span(5, 2, "inner", 12, 18))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10)
    assert(self(2) == 20 - 6)
    assert(self(3) == 30)
    assert(self(4) == 30)
    assert(self(5) == 6)
  }

  test("a span without children keeps its whole duration") {
    assert(Trace.selfTimes(Seq(span(7, 0, "x", 5, 9)))(7) == 4)
  }

  test("self seconds add up per name") {
    val spans = Seq(
      span(1, 0, "doc", 0, 3000000000L),
      span(2, 1, "splitter", 0, 1000000000L),
      span(3, 1, "splitter", 1000000000L, 1500000000L))
    val by = Trace.selfSecondsByName(spans)
    assert(by("splitter") == 1.5)
    assert(by("doc") == 1.5)
  }

  test("a disabled tracer records nothing but still runs the body") {
    val t = new Tracer(false)
    assert(t.span("x", "r")(_ => 42) == 42)
    assert(t.all.isEmpty)
    t.enabled = true
    t.span("y", "r")(id => t.span("z", "r", id)(_ => ()))
    val spans = t.all
    assert(spans.map(_.name).toSet == Set("y", "z"))
    assert(spans.find(_.name == "z").get.parent == spans.find(_.name == "y").get.id)
  }
}
