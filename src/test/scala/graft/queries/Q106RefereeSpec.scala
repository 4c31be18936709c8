package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** 5-run referee for q106_heavy_hitters (round-15 watch item: the
  * bench median moved 0.71 → 1.26 s with no code change — the
  * round-15 diff to Extended7 touches only q109). Under STABILITY's
  * rules a single-median delta is box state until a multi-run referee
  * on a dedicated session adjudicates it. GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.Q106RefereeSpec"
  *
  * The spec runs the registry impl exactly as Bench does (dedicated
  * local[32], warm rep first), prints the 5-run median for
  * STABILITY's watch-item paragraph, and anchors correctness (30
  * rows) so a speed number can never come from a broken plan.
  */
class Q106RefereeSpec extends AnyFunSuite with graft.PerfSession {

  test("q106 heavy hitters: 5 timed runs at sf0.1") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    val q = graft.SparkEntry.queries("q106_heavy_hitters")
    assert(q(spark, d).count() == 30L) // warm + correctness anchor
    val runs = (1 to 5).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); q(spark, d).count()
      (System.nanoTime() - t0) / 1e9
    }
    val median = runs.sorted.apply(runs.size / 2)
    info(f"q106 median $median%.3f s " +
      f"(runs ${runs.map(t => f"$t%.3f").mkString(", ")}; " +
      "round-14 bench median 0.71 s, round-15 1.26 s)")
    // generous sanity ceiling: a real dataflow regression (not box
    // noise) would blow far past the historical band
    assert(median <= 2.5,
      f"q106 median $median%.3f s is far outside the historical band —" +
        " investigate the plan, not the box")
  }
}
