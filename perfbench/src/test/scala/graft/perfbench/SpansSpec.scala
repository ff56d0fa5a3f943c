package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: String, a: Double, b: Double, parent: Option[String] = None, layer: String = "x") =
    Span(id, id, layer, a, b, parent, "r")

  test("self time subtracts the union of the children, overlaps counted once") {
    val spans = Seq(
      span("p", 0, 100),
      span("a", 10, 30, Some("p")),
      span("b", 20, 50, Some("p")),
      span("c", 60, 70, Some("p")))
    val self = Spans.selfTimes(spans)
    assert(self("p") == 50.0)
    assert(self("a") == 20.0 && self("b") == 30.0 && self("c") == 10.0)
  }

  test("a child outliving its parent is clipped; grandchildren do not reach the grandparent") {
    val spans = Seq(
      span("p", 0, 100),
      span("c", 90, 120, Some("p")),
      span("g", 95, 96, Some("c")))
    val self = Spans.selfTimes(spans)
    assert(self("p") == 90.0)
    assert(self("c") == 29.0)
    assert(self("g") == 1.0)
  }

  test("the self times of a chain add up to its root span") {
    val spans = Seq(
      span("q", 0, 100, layer = "query"),
      span("x", 20, 100, Some("q"), "exec"),
      span("j", 30, 80, Some("x"), "job"),
      span("s", 40, 70, Some("j"), "stage"))
    val self = Spans.selfTimes(spans)
    assert(self == Map("q" -> 20.0, "x" -> 30.0, "j" -> 20.0, "s" -> 30.0))
    assert(self.values.sum == 100.0)
  }

  test("spans render as one JSON object each") {
    val j = Spans.toJson(Span("j:1", "write \"ok\"", "job", 1.5, 2.25, Some("b:1"), "f-000001.parquet"))
    assert(j == """{"id":"j:1","name":"write \"ok\"","layer":"job","start_ms":1.500,"end_ms":2.250,"parent":"b:1","request":"f-000001.parquet"}""")
  }
}
