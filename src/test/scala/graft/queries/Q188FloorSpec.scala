package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-trigger attribution of q188's cost (VERDICT r18 #5): the
  * chained LSM-ingest replay is the registry's largest absolute entry
  * (~5–6 s across 3 triggers + index build), and the round-18 verdict
  * asked for the same referee treatment q142 got — decompose the
  * trigger into its components from Structured Streaming's progress
  * events PLUS the engine's own [[graft.streaming.NearDupIngest
  * .PhaseTimes]] phase accumulator (idempotence checks / band probe /
  * ledger probe / store landing / index append), and either act on
  * the largest term or commit the floor attribution. GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.Q188FloorSpec"
  *
  * Findings land in bench/STABILITY.md (round 19).
  */
class Q188FloorSpec extends AnyFunSuite with graft.PerfSession {

  test("q188 trigger decomposition: probe vs ledger vs landing vs index vs machinery") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    val progresses =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progresses.add(e.progress): Unit
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val reps = (1 to 3).map { _ =>
        progresses.clear()
        graft.streaming.NearDupIngest.PhaseTimes.reset()
        val t0 = System.nanoTime()
        val n = graft.streaming.NearDupIngest.demoRun(spark, d).count()
        val wall = (System.nanoTime() - t0) / 1e9
        assert(n > 0)
        Thread.sleep(500) // listener events post asynchronously
        val ps = {
          val it = progresses.iterator()
          val b = Seq.newBuilder[
            org.apache.spark.sql.streaming.StreamingQueryProgress]
          while (it.hasNext) b += it.next()
          b.result()
        }
        def sumDur(k: String): Long =
          ps.map(p => Option(p.durationMs.get(k)).map(_.toLong)
            .getOrElse(0L)).sum
        val phases = graft.streaming.NearDupIngest.PhaseTimes.snapshot
          .map { case (k, v) => k -> v / 1e6 } // ms
        (wall, ps.size, sumDur("triggerExecution"),
          sumDur("queryPlanning"), sumDur("addBatch"),
          sumDur("walCommit") + sumDur("commitOffsets"),
          sumDur("latestOffset") + sumDur("getBatch"), phases)
      }
      val m = reps.sortBy(_._1).apply(reps.size / 2)
      val (wall, nTrig, trig, plan, addB, commit, src, phases) = m
      def ph(k: String): Double = phases.getOrElse(k, 0.0)
      val phaseSum = phases.values.sum
      info(f"q188 @ sf0.1: wall ${wall}%.2f s, $nTrig trigger(s); " +
        f"triggerExecution ${trig} ms = queryPlanning ${plan} ms + " +
        f"addBatch ${addB} ms + offsetLog/walCommit ${commit} ms + " +
        f"source resolve ${src} ms (+ residual)")
      info(f"inside the foreachBatch body (PhaseTimes, summed over " +
        f"triggers, ${phaseSum}%.0f ms total): " +
        f"idempotence_checks ${ph("idempotence_checks")}%.0f ms, " +
        f"band_probe_eager ${ph("band_probe_eager")}%.0f ms, " +
        f"ledger_probe_eager ${ph("ledger_probe_eager")}%.0f ms, " +
        f"store_landing ${ph("store_landing")}%.0f ms, " +
        f"index_append ${ph("index_append")}%.0f ms")
      info(f"outside-trigger (index build + staging + startup/teardown): " +
        f"${(wall * 1000).toLong - trig} ms of ${(wall * 1000).toLong} ms")
      // sanity: the decomposition must cover the trigger
      assert(nTrig >= 1 && trig > 0 && addB > 0)
      assert(phaseSum <= addB + 2000,
        "PhaseTimes phases exceed the addBatch window they live in")
      assert(plan + addB + commit + src <= trig + 1000,
        "decomposed components exceed the trigger they partition")
    } finally spark.streams.removeListener(listener)
  }
}
