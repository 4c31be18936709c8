package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Option[Long], start: Long, end: Long) =
    Span(id, parent, s"s$id", "test", start, end)

  test("self time subtracts overlapping children once") {
    val parent = span(1, None, 0, 100)
    val kids = Seq(span(2, Some(1), 10, 40), span(3, Some(1), 30, 60))
    // children cover [10, 60): 50 of the parent's 100
    assert(Span.selfNs(parent, kids) == 50)
  }

  test("child time outside the parent's interval is clipped") {
    val parent = span(1, None, 0, 100)
    val kids = Seq(span(2, Some(1), 90, 130), span(3, Some(1), -20, 5))
    assert(Span.selfNs(parent, kids) == 85)
  }

  test("a child covering the whole parent leaves zero self time, never negative") {
    val parent = span(1, None, 0, 100)
    val kids = Seq(span(2, Some(1), 0, 100), span(3, Some(1), 20, 80))
    assert(Span.selfNs(parent, kids) == 0)
  }

  test("traced spans nest, and a disabled tracer records nothing") {
    val sc = BenchSpark.spark.sparkContext
    val tr = new Tracer(sc, enabled = true)
    tr.span("outer", "test") { tr.span("inner", "test") { Thread.sleep(2) } }
    val outer = tr.all.find(_.name == "outer").get
    val inner = tr.all.find(_.name == "inner").get
    assert(inner.parent.contains(outer.id))
    assert(tr.childrenOf(outer.id).map(_.id) == Seq(inner.id))
    assert(tr.selfNs(outer) <= outer.durationNs - inner.durationNs + 1)
    val off = new Tracer(sc, enabled = false)
    assert(off.span("x", "test")(41 + 1) == 42)
    assert(off.all.isEmpty)
  }
}
