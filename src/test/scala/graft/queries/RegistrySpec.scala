package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("the registry holds 192 distinct names, none lost to a merge") {
    assert(Registry.modules.map(_.size).sum === 192)
    assert(Registry.all.size === 192)
    assert(Registry.all.keys.forall(_.matches("q[0-9]{2,3}_[a-z0-9_]+")))
  }

  test("merge rejects a name declared in two modules and names it") {
    val q = Q((_, _) => null, None)
    val err = intercept[IllegalArgumentException](Registry.merge(Seq(
      Map("q01_a" -> q, "q02_b" -> q), Map("q03_c" -> q), Map("q02_b" -> q))))
    assert(err.getMessage.contains("q02_b"))
    assert(!err.getMessage.contains("q01_a"))
  }

  test("exactly the 11 micro-batch queries are marked streaming") {
    val streaming = Registry.all.collect { case (n, q) if q.streaming => n }.toSet
    assert(streaming === Set(
      "q20_stream_tumbling", "q39_stream_sessionize", "q63_stream_stream_join",
      "q71_stream_dedup", "q74_stream_sliding", "q82_stream_watermark",
      "q100_stream_static_enrich", "q108_stream_outer_join",
      "q111_stream_dedup_watermark", "q142_stream_spend_monitor",
      "q188_stream_neardup_ingest"))
  }
}
