package graft.queries

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** Stage-attributed floor measurement for the two batch queries the
  * r16 ratio audit left >2× DuckDB with ≥1 s absolute (q176 22.3×,
  * q181 12.5× — VERDICT r16 #3): this referee separates DATAFLOW
  * cost (executor task time across all stages) from ORCHESTRATION
  * cost (wall − ideal parallel compute) over warm reps. If the summed
  * task time at 32 cores accounts for a small fraction of wall, the
  * residual is the multi-stage per-query floor — job scheduling,
  * planning, broadcast waits — which no persist removes; that is the
  * committed floor attribution STABILITY cites (the persist pass
  * itself was adjudicated per-query by Q176Q181PersistAbSpec: q176
  * keeps its persists, q181 keeps the original dataflow).
  * GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.FloorAttributionSpec"
  */
class FloorAttributionSpec extends AnyFunSuite with graft.PerfSession {

  private class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      taskMs += s.stageInfo.taskMetrics.executorRunTime
    }
    def reset(): Unit = { jobs = 0; stages = 0; taskMs = 0L }
  }

  test("q176/q181 floor: task-time vs wall attribution at sf0.1") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    for (name <- Seq("q176_rrf_fusion", "q181_sampled_recall_audit")) {
      val q = graft.SparkEntry.queries(name)
      q(spark, d).count() // warm (plans, code, broadcast paths)
      graft.functions.PersistLeases.releaseAll()
      spark.catalog.clearCache()
      val reps = (1 to 5).map { _ =>
        // listener events post asynchronously; a short settle after the
        // action lets the last stage-completed land before the read
        // (the bus is private[spark], so no waitUntilEmpty here)
        Thread.sleep(300)
        counter.reset()
        val t0 = System.nanoTime()
        q(spark, d).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        val r = (wall, counter.jobs, counter.stages, counter.taskMs)
        graft.functions.PersistLeases.releaseAll()
        spark.catalog.clearCache()
        r
      }
      val wallMed = reps.map(_._1).sorted.apply(reps.size / 2)
      val (j, st, tm) = (reps.map(_._2).max, reps.map(_._3).max,
        reps.map(_._4).max)
      val idealS = tm / 1000.0 / 32.0
      info(f"$name: wall median $wallMed%.3f s over ${reps.size} warm reps;" +
        f" per rep <=$j jobs, <=$st stages, executor task time" +
        f" ${tm / 1000.0}%.2f s (ideal at 32 cores ${idealS}%.3f s);" +
        f" orchestration residual ${wallMed - idealS}%.3f s =" +
        f" ${100 * (wallMed - idealS) / wallMed}%.0f%% of wall")
      // the attribution only means something if the measurement is sane
      assert(wallMed > 0 && j > 0 && st > 0)
    }
  }
}
