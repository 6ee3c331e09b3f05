package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long, layer: String = "x") =
    Span(id, parent, layer, "op", start, end)

  test("covered counts overlapping intervals once and clips to the span") {
    assert(Trace.covered(0, 100, Seq((10, 30), (20, 40), (90, 120))) == 40)
    assert(Trace.covered(0, 100, Nil) == 0)
    assert(Trace.covered(50, 60, Seq((0, 100))) == 10)
    assert(Trace.covered(0, 100, Seq((200, 300))) == 0)
  }

  test("self time is duration minus the union of the children") {
    val parent = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 70, 80))
    assert(Trace.selfTime(parent, kids) == 100 - 50)
    assert(Trace.selfTime(parent, Nil) == 100)
  }

  test("self time by layer sums each span's own time") {
    val spans = Seq(
      span(1, 0, 0, 1000000000L, "op"),
      span(2, 1, 0, 400000000L, "operators.build"),
      span(3, 1, 400000000L, 1000000000L, "spark.action"),
      span(4, 3, 500000000L, 900000000L, "spark.job"))
    val self = Trace.selfByLayer(spans)
    assert(self("op") == 0.0)
    assert(self("operators.build") == 0.4)
    assert(math.abs(self("spark.action") - 0.2) < 1e-12)
    assert(math.abs(self("spark.job") - 0.4) < 1e-12)
  }

  test("a job belongs to the innermost call span open when it started") {
    val calls = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 90))
    assert(Trace.innermostAt(calls, 20).map(_.id).contains(2))
    assert(Trace.innermostAt(calls, 45).map(_.id).contains(1))
    assert(Trace.innermostAt(calls, 200).isEmpty)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(false)
    assert(t.span("op", "q")(42) == 42)
    assert(t.spans.isEmpty)
    val on = new Tracer(true)
    on.span("op", "q")(on.span("spark.action", "q")(()))
    assert(on.spans.map(_.layer).toSet == Set("op", "spark.action"))
    val Seq(inner, outer) = on.spans
    assert(inner.parent == outer.id)
  }
}
