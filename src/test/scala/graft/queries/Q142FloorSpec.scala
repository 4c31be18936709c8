package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-stage attribution of q142's streaming floor (VERDICT r17 #7):
  * the spend monitor runs `transformWithState` on the RocksDB state
  * store and sits at ~120× its 7 ms DuckDB oracle in every ratio
  * audit — the largest ratio in the registry. The collective
  * explanation ("the ~0.7–2 s/trigger re-planning floor") is
  * documented; this referee decomposes THIS query's trigger from
  * Structured Streaming's own progress events, so the number stops
  * reading as an anomaly: `durationMs` splits the trigger into
  * addBatch (task execution incl. state-store work), queryPlanning,
  * triggerExecution (total), walCommit/commitOffsets (checkpoint
  * bookkeeping), and the state operator's customMetrics carry the
  * RocksDB load/commit times inside addBatch. GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.Q142FloorSpec"
  *
  * Findings land in bench/STABILITY.md (round 18).
  */
class Q142FloorSpec extends AnyFunSuite with graft.PerfSession {

  test("q142 trigger decomposition: planning vs addBatch vs RocksDB vs commit") {
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
        if (e.progress.name != null && e.progress.name.startsWith("graft_spend_"))
          progresses.add(e.progress): Unit
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val reps = (1 to 3).map { _ =>
        progresses.clear()
        val t0 = System.nanoTime()
        graft.streaming.StateV2.spendTotals(spark, d).count(): Unit
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events post asynchronously
        Thread.sleep(500)
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
        def sumState(k: String): Long =
          ps.flatMap(_.stateOperators.toSeq).map(so =>
            Option(so.customMetrics.get(k)).map(_.toLong)
              .getOrElse(0L)).sum
        (wall, ps.size,
          sumDur("triggerExecution"), sumDur("queryPlanning"),
          sumDur("addBatch"), sumDur("walCommit") + sumDur("commitOffsets"),
          sumDur("latestOffset") + sumDur("getBatch"),
          sumState("rocksdbLoadLatencyMs"),
          sumState("rocksdbCommitCheckpointLatency") +
            sumState("rocksdbCommitFlushLatency") +
            sumState("rocksdbSaveZipFilesLatencyMs") +
            sumState("rocksdbCommitFileSyncLatencyMs"))
      }
      val m = reps.sortBy(_._1).apply(reps.size / 2)
      val (wall, nTrig, trig, plan, addB, commit, src, rocksLoad,
        rocksCommit) = m
      info(f"q142 @ sf0.1: wall ${wall}%.2f s over $nTrig trigger(s); " +
        f"triggerExecution ${trig} ms = queryPlanning ${plan} ms + " +
        f"addBatch ${addB} ms + offsetLog/walCommit ${commit} ms + " +
        f"source resolve ${src} ms (+ residual); inside addBatch the " +
        f"RocksDB store lifecycle sums ${rocksLoad} ms instance-load + " +
        f"${rocksCommit} ms commit (checkpoint+flush+zip+fsync) across " +
        f"the 8 state partitions (they overlap wall via task " +
        f"parallelism); outside-trigger startup/teardown " +
        f"${(wall * 1000).toLong - trig} ms")
      // sanity: the decomposition must cover the trigger
      assert(nTrig >= 1 && trig > 0 && addB > 0)
      assert(plan + addB + commit + src <= trig + 1000,
        "decomposed components exceed the trigger they partition")
    } finally spark.streams.removeListener(listener)
  }
}
