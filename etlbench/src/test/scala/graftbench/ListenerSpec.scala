package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite {

  test("jobs, stages and tasks are attributed to the span that submitted them") {
    val spark = BenchSpark.spark
    val sc = spark.sparkContext
    val listener = new EngineListener
    sc.addSparkListener(listener)
    try {
      val tr = new Tracer(sc, enabled = true)
      tr.span("one", "test") { sc.parallelize(1 to 100, 2).count() }
      tr.span("outer", "test") {
        sc.parallelize(1 to 10, 1).collect()
        tr.span("inner", "test") { sc.parallelize(1 to 10, 2).count() }
        // back in the parent after the child closes
        sc.parallelize(1 to 5, 1).collect()
      }
      sc.parallelize(1 to 3, 1).collect() // outside any span
      org.apache.spark.BenchBus.drain(sc)
      def id(name: String) = tr.all.find(_.name == name).get.id
      val one = listener.totalsFor(Set(id("one")))
      val outer = listener.totalsFor(Set(id("outer")))
      val inner = listener.totalsFor(Set(id("inner")))
      assert(one.jobs == 1)
      assert(one.tasks == 2 && one.stages == 1)
      assert(inner.jobs == 1)
      assert(outer.jobs == 2)
      assert(listener.totalsFor(tr.subtree(id("outer"))).jobs == 3)
      assert(listener.totalsFor(Set(0L)).jobs >= 1)
      assert(listener.jobIntervalsMs(Set(id("outer"))).size == 2)
      assert(sc.getLocalProperty(Tracer.SpanProperty) == null)
    } finally sc.removeSparkListener(listener)
  }
}
