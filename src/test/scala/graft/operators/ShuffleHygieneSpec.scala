package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins [[ShuffleHygiene]]'s three levers in the default suite (the
  * decade audits exercise them at scale behind GRAFT_PERF; this is
  * the ungated contract): `retainedShuffleBytes` sees a completed
  * shuffle's files, `reclaim` frees them once the owning plan is
  * unreachable, and `parquetBarrier` preserves rows while cutting
  * lineage (the re-read plan carries no exchange).
  */
class ShuffleHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** reclaim's documented JVM/cleaner preconditions (its scaladoc):
    * under -XX:+DisableExplicitGC the System.gc() hint is a no-op,
    * and with spark.cleaner.referenceTracking off nothing deletes
    * shuffle files at all — in either environment the reclaim
    * assertions below are vacuous, so they are assume-gated instead
    * of flaking (ADVICE r18).
    */
  private def reclaimPreconditionsHold: Boolean = {
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val explicitGcOk = !jvmArgs.contains("-XX:+DisableExplicitGC")
    val trackingOk = spark.sparkContext.getConf
      .getBoolean("spark.cleaner.referenceTracking", defaultValue = true)
    explicitGcOk && trackingOk
  }

  test("reclaim frees a dead shuffle's files; live shuffles survive") {
    assume(reclaimPreconditionsHold,
      "explicit GC disabled or ContextCleaner off — reclaim is " +
        "documented as inert here")
    // quiesce other suites' dead references first so the measured
    // delta below is this test's own shuffle
    ShuffleHygiene.reclaim(spark)
    val before = ShuffleHygiene.retainedShuffleBytes(spark)
    // scope the chain so the frame (and its ShuffleDependency) is
    // unreachable after the collect
    def runChain(): Long =
      (1L to 200000L).toDF("x")
        .repartition(8, col("x"))
        .groupBy(col("x") % 1000).agg(count(lit(1)))
        .count()
    assert(runChain() === 1000L)
    val during = ShuffleHygiene.retainedShuffleBytes(spark)
    assert(during > before,
      s"a completed shuffle must retain files ($during <= $before)")
    // parallel suites share this session and may land their own
    // shuffles between measurements — retry until the drop is visible
    val dropped = (1 to 5).exists { _ =>
      ShuffleHygiene.reclaim(spark)
      ShuffleHygiene.retainedShuffleBytes(spark) < during
    }
    assert(dropped,
      s"reclaim must free the dead chain's shuffle files " +
        s"(before=$before during=$during, no drop after 5 attempts)")
  }

  test("reclaim is a measured fixpoint: returns reclaimed bytes, stops only flat") {
    assume(reclaimPreconditionsHold,
      "explicit GC disabled or ContextCleaner off — reclaim is " +
        "documented as inert here")
    ShuffleHygiene.reclaim(spark) // drain other suites' dead refs
    def runChain(): Long =
      (1L to 300000L).toDF("x")
        .repartition(8, col("x"))
        .groupBy(col("x") % 500).agg(count(lit(1)))
        .count()
    assert(runChain() === 500L)
    val during = ShuffleHygiene.retainedShuffleBytes(spark)
    // the deterministic contract (VERDICT r18 #2): the call returns
    // only once two consecutive polls free nothing more (or the round
    // bound is hit), and reports what it actually freed — so a caller
    // on a loaded box observes partial reclaim instead of assuming
    // a fixed sleep sufficed
    val freed = (1 to 5).iterator
      .map(_ => ShuffleHygiene.reclaim(spark)).find(_ > 0L)
    assert(freed.exists(_ > 0L),
      s"fixpoint reclaim must report the dead chain's bytes as freed" +
        s" (retained during=$during)")
    // after the fixpoint, an immediate re-poll has nothing to free:
    // a second reclaim reports (close to) zero — the fixpoint was real.
    // Tolerance: parallel suites may drop their own refs in between.
    val second = ShuffleHygiene.reclaim(spark)
    assert(second <= during,
      s"second reclaim freed $second > the chain's own footprint — " +
        "the first call returned before its fixpoint")
  }

  test("cluster accounting keeps one reading per (host, local-dir set)") {
    // two executors on one host sharing its local dirs each walk the
    // same blockmgr trees: one reading counts, whatever the dir order
    assert(ShuffleHygiene.perHostDirSet(Seq(
      ("h1", Seq("/a", "/b"), 100L), ("h1", Seq("/b", "/a"), 100L))) === 100L)
    // different dirs on one host are disjoint trees: both count
    assert(ShuffleHygiene.perHostDirSet(Seq(
      ("h1", Seq("/a"), 100L), ("h1", Seq("/b"), 40L))) === 140L)
    // the same dirs on two hosts are two disks
    assert(ShuffleHygiene.perHostDirSet(Seq(
      ("h1", Seq("/a"), 100L), ("h2", Seq("/a"), 40L))) === 140L)
  }

  test("clusterRetainedShuffleBytes equals the local reading on local[*] (VERDICT r19 #5)") {
    // materialize a shuffle so both readings are non-trivially nonzero
    val shuffled = (1L to 20000L).toDF("x")
      .groupBy(col("x") % 64).agg(sum("x").as("s"))
    assert(shuffled.count() === 64)
    val local = ShuffleHygiene.retainedShuffleBytes(spark)
    val aggregated = ShuffleHygiene.clusterRetainedShuffleBytes(spark)
    assert(local > 0L, "the shuffle above must leave map files behind")
    // single executor ("driver") on local[*]: the dedup-by-executor-id
    // sum collapses to exactly one walk of the same dirs. Concurrent
    // suites can add/remove files between the two walks, so allow a
    // small relative drift rather than pin equality on a live tree.
    val drift = math.abs(aggregated - local).toDouble / local
    assert(drift <= 0.05,
      s"aggregated=$aggregated vs local=$local — on local[*] these " +
        "must be the same executor's dirs")
  }

  test("parquetBarrier preserves rows and cuts lineage") {
    val dir = graft.TestSpark.scratchDir("hygiene_barrier")
    val shuffled = (1L to 10000L).toDF("x")
      .groupBy(col("x") % 100).agg(sum("x").as("s"))
    val cut = ShuffleHygiene.parquetBarrier(shuffled, dir)
    // same rows
    assert(cut.agg(sum("s")).head.getLong(0) ===
      shuffled.agg(sum("s")).head.getLong(0))
    // the re-read's plan is a bare scan of the barrier dir — no
    // exchange survives the lineage cut
    val plan = cut.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"barrier output must not re-plan the upstream shuffle:\n$plan")
    assert(cut.inputFiles.forall(_.contains("hygiene_barrier")))
  }
}
