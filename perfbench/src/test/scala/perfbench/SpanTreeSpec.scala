package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The span tree's self times and its two checks: nesting, and that self
  * times plus children's durations account for each span's wall time.
  */
class SpanTreeSpec extends AnyFunSuite {
  private val ms = 1000000L
  private def span(id: Long, parent: Long, kind: String, a: Long, b: Long) =
    Span(id, parent, s"s$id", kind, "l", a * ms, b * ms, "r")

  test("a well-nested tree has no violations; self excludes children") {
    val r = SpanTree.analyse(Seq(span(1, 0, "run", 0, 100),
      span(2, 1, "call", 10, 40), span(3, 1, "call", 50, 90),
      span(4, 2, "job", 12, 30)), 1)
    assert(r.nestingViolations == 0 && r.accountingViolations == 0)
    assert(r.accountingErrorPct == 0.0)
    assert(r.self(1) == 30 * ms && r.self(2) == 12 * ms && r.self(4) == 18 * ms)
  }

  test("concurrent Spark stages under a job are accounted for") {
    val r = SpanTree.analyse(Seq(span(1, 0, "run", 0, 100),
      span(2, 1, "job", 0, 100), span(3, 2, "stage", 0, 60),
      span(4, 2, "stage", 20, 100)), 1)
    assert(r.accountingViolations == 0 && r.self(2) == 0L)
  }

  test("overlapping benchmark spans are an accounting violation") {
    val r = SpanTree.analyse(Seq(span(1, 0, "run", 0, 100),
      span(2, 1, "call", 0, 60), span(3, 1, "call", 40, 100)), 1)
    assert(r.nestingViolations == 0)
    assert(r.accountingViolations == 1 && r.accountingErrorPct == 20.0)
  }

  test("a child past its parent is a nesting and an accounting violation") {
    val r = SpanTree.analyse(Seq(span(1, 0, "run", 0, 100),
      span(2, 1, "call", 0, 50), span(3, 2, "job", 30, 80)), 1)
    assert(r.nestingViolations == 1 && r.accountingViolations == 1)
    assert(r.self(2) == 30 * ms && r.self.values.forall(_ >= 0))
  }
}
