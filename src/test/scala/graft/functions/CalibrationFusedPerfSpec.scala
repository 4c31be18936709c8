package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A/B perf referee for the fused calibrate-then-execute path (round
  * 15): `BandedLsh.calibratedPairs` over the MinHash family must be at
  * least at parity with the probing `calibrateBands` +
  * `candidatePairs` composition — the fusion replaces the guard's
  * corpus-wide occupancy aggregation (a full groupBy + shuffle over
  * the banded frame) with a cached-scan filter on the sweep's
  * persisted occupancy plus a shuffle-free materializing count.
  * Absolute box timings on this host swing with external load waves
  * (bench/STABILITY.md round-15 addendum), so the referee is
  * INTERLEAVED and COMPARATIVE: variants alternate within one JVM and
  * only their medians are compared. Runs ONLY when GRAFT_PERF is set:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.functions.CalibrationFusedPerfSpec"
  *
  * Measured when committed (500 k-doc same-JVM A/B, warm reps):
  * fused calibrate+pairs 9.6 s vs probing 14.0 s — the probe's
  * md5-string groupBy is the dominant saving.
  */
class CalibrationFusedPerfSpec extends AnyFunSuite with graft.PerfSession {

  private val K = 12
  private val Grid = Seq(2, 3, 4, 6)
  private val Budget = 20L

  /** The interleaved A/B over a pre-landed signature table: result
    * identity first, then alternating timed reps so an external load
    * wave hits both variants equally. Returns (probing, fused)
    * medians.
    */
  private def abOverSigs(spark: SparkSession, sigsPath: String,
      label: String, reps: Int = 5): (Double, Double) = {
    def probing(): Long = {
      val sigs = spark.read.parquet(sigsPath)
      val sel = MinHashLsh.calibrateBands(sigs, "doc_id", K, Grid, Budget)
      MinHashLsh.candidatePairs(sigs, "doc_id", K, sel).count()
    }
    def fused(): Long = {
      val sigs = spark.read.parquet(sigsPath)
      BandedLsh.calibratedPairs(MinHashLsh.family(sigs, "doc_id", K), Grid,
        Budget, LshGuard.DefaultMaxBucket)._2.count()
    }
    // result identity before any perf claim (count-level here; the
    // pair-level identity is pinned corpus-exactly by Extended23Spec)
    spark.catalog.clearCache()
    val nProbe = probing()
    spark.catalog.clearCache()
    val nFused = fused()
    assert(nFused === nProbe, "fused path must emit the same pair count")

    def timed(body: () => Long): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); body()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both plans once, then interleave the timed reps so an
    // external load wave hits both sides equally — ALTERNATING the
    // within-rep order (round 17): a session that degrades
    // monotonically (GC pressure at the 5M-doc scale) would otherwise
    // systematically penalize whichever side always ran second
    timed(probing); timed(fused)
    val (ps, fs) = (1 to reps).map { i =>
      if (i % 2 == 1) (timed(probing), timed(fused))
      else { val f = timed(fused); val p = timed(probing); (p, f) }
    }.unzip
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val (mp, mf) = (median(ps), median(fs))
    info(f"$label probing median $mp%.2f s (${ps.map(x => f"$x%.2f").mkString(", ")})")
    info(f"$label fused   median $mf%.2f s (${fs.map(x => f"$x%.2f").mkString(", ")})")
    (mp, mf)
  }

  test("fused calibration+pairs within 15% of probing path (median of 5, interleaved)") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    // deterministic 150 k-doc synthetic corpus; signatures land on
    // parquet once so every timed run pays the same scan and none
    // pays the shingle/md5 signature build
    val scratch = graft.TestSpark.scratchDir("calib_ab")
    val sigsPath = s"$scratch/sigs.parquet"
    val words = (0 until 40).map(i => s"substring(md5(cast(id * 37 + $i as string)), 1, ${3 + i % 5})")
    val docs = spark.range(150000)
      .select(col("id").as("doc_id"),
        expr(s"concat_ws(' ', ${words.mkString(", ")})").as("text"))
      .withColumn("t", TextFns.tokens(col("text")))
    MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, K)
      .write.mode("overwrite").parquet(sigsPath)
    // 7 reps: the 150k medians sit in the load-wave noise band on this
    // host (measured runs span 2.6-26.5 s), so the median needs the
    // extra samples the stable 500k test does not
    val (mp, mf) = abOverSigs(spark, sigsPath, "150k:", reps = 7)
    assert(mf <= mp * 1.15,
      f"fused path ($mf%.2f s) must be within 15%% of probing ($mp%.2f s)")
  }

  test("fused calibration+pairs beats probing at the 500k-doc decade (interleaved)") {
    // the round-15 claim (fused 9.6 s vs probing 14.0 s at 500 k) lived
    // only in STABILITY prose from ad-hoc A/Bs — this commits the same
    // interleaved median-of-5 at the decade where the fusion matters
    // (the probe's corpus-wide md5-string groupBy is what it deletes)
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf10"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    val spark = perfSession()
    val scratch = graft.TestSpark.scratchDir("calib_ab_sf10")
    val sigsPath = s"$scratch/sigs.parquet"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", TextFns.tokens(col("text")))
    MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, K)
      .write.mode("overwrite").parquet(sigsPath)
    val (mp, mf) = abOverSigs(spark, sigsPath, "500k:")
    // at this scale the deleted groupBy dominates: fused must not lose
    assert(mf <= mp,
      f"fused path ($mf%.2f s) must be at or under probing ($mp%.2f s)" +
        " at 500k docs")
  }

  test("fused parity and wall-clock at the THIRD decade (5M docs) where the selection shifts") {
    // VERDICT r16 #7: the fused-vs-probing referee stopped at 500 k,
    // but sf100 is where the selection rule CHANGES its answer (6→4
    // bands, ScaleCalibrationSpec) — pin parity and fused <= probing
    // at the scale where the calibration actually recalibrates.
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf100"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    val spark = perfSession()
    val scratch = graft.TestSpark.scratchDir("calib_ab_sf100")
    val sigsPath = s"$scratch/sigs.parquet"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", TextFns.tokens(col("text")))
    MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, K)
      .write.mode("overwrite").parquet(sigsPath)
    val sel = MinHashLsh.calibrateBands(
      spark.read.parquet(sigsPath), "doc_id", K, Grid, Budget)
    info(s"5M-doc selection: $sel bands")
    assert(sel == 4, s"the third decade's selection shift (6->4 bands," +
      s" ScaleCalibrationSpec) must reproduce here, got $sel")
    // 5 reps: each side costs tens of seconds at 5M docs, but a
    // 3-sample median proved flippable by ONE load-wave outlier on a
    // box still draining a full-suite run (quiet-box medians: probing
    // 32.1 s with an 81 s outlier in-sample, fused 25.5 s — see
    // STABILITY round 17); the interleaving spreads the wave, the
    // extra samples keep one outlier from deciding the median
    val (mp, mf) = abOverSigs(spark, sigsPath, "5M:", reps = 5)
    assert(mf <= mp,
      f"fused path ($mf%.2f s) must be at or under probing ($mp%.2f s)" +
        " at the decade where the selection shifts")
  }
}
