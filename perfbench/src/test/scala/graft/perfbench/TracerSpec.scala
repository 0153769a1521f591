package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  test("a throwing op is recorded as failed with its message, and does not escape") {
    val tr = new Tracer(false)
    val r = tr.op("query", "q_throws") { throw new IllegalStateException("boom") }
    assert(!r.ok)
    assert(r.error == "boom")
    assert(r.kind == "query" && r.name == "q_throws")
    val ok = tr.op("query", "q_ok") { () }
    assert(ok.ok && ok.error == null && ok.seconds >= 0)
  }

  test("a fatal error is not swallowed as an op failure") {
    val tr = new Tracer(false)
    intercept[StackOverflowError](tr.op("query", "q")(throw new StackOverflowError()))
  }

  test("untraced runs record no spans; traced runs nest them under the op") {
    val off = new Tracer(false)
    off.op("read.count", "r")(off.span("table.read.count", "table")(1))
    assert(off.spans.isEmpty)
    val on = new Tracer(true)
    on.op("read.count", "r")(on.span("table.read.count", "table")(1))
    assert(on.spans.map(s => (s.name, s.layer, s.parent)) ==
      Seq(("op.read.count", "bench", -1), ("table.read.count", "table", 0)))
    assert(on.spans.forall(s => s.endMs >= s.startMs && s.op == 0))
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(0, "op", "bench", 0, 100, -1, 0),
      Span(1, "build", "queries", 10, 40, 0, 0),
      Span(2, "run", "queries", 30, 90, 0, 0),
      Span(3, "job", "engine.job", 35, 80, 2, 0),
      Span(4, "job", "engine.job", 50, 85, 2, 0))
    assert(Tracer.covered(Seq((10L, 40L), (30L, 90L))) == 80)
    val self = Tracer.selfTimes(spans)
    assert(self("bench") == 0.020)
    assert(self("queries") == 0.030 + 0.010)
    assert(self("engine.job") == 0.045 + 0.035)
  }
}
