package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{MinHashLsh, OccupancySweep}
import graft.tools.SketchGen

/** SIXTH-decade pricing (VERDICT r19 #7): with the fifth decade now
  * EXACT for every family, run the surviving configs' pricing row at
  * N ≈ 5×10⁹ docs to confirm the ceiling arithmetic a decade early
  * (MinHash bands=3 projected to cross budget near N ≈ 1.6×10¹⁰ on
  * the exact-decade α ≈ 0.95 — revised down from r19's 4.5×10¹⁰
  * ladder fit by the exact 500 M value; SimHash64 w=32 near
  * 8.6×10¹⁰).
  *
  * A 5×10⁹-doc sweep does not fit this box even stratified (~150 GB
  * of packed keys), so the sixth-decade row is a DETERMINISTIC
  * ID-SAMPLED estimator anchored on the exact fifth-decade values:
  * keep each id with probability 1/R via a hash draw
  * ([[SketchGen.inSample]] — a hash, NOT id mod R, so ScaleGen's
  * fixed-offset dup partners sample independently), sweep the sampled
  * sub-corpus exactly, and scale: each key's sampled occupancy is
  * Binomial(c, 1/R), so E[Σ C(c_s, 2)] = Σ C(c, 2)/R² exactly —
  * `pairs_full = R² · pairs_sampled` is unbiased for BOTH the
  * planted c=2 dup mass and the concentration-driven heavy keys.
  * The estimator is VALIDATED in-run at the fifth decade: the same
  * R-draw at N = 5×10⁸ must reproduce the committed exact 500 M
  * values (bench/sf10000_pricing_r20.txt) within the binomial
  * envelope before the 5×10⁹ row is trusted.
  *
  * Volume-gated (tens of minutes):
  *
  *   GRAFT_SF1E10=1 GRAFT_PERF=1 sbt "testOnly graft.queries.Sf1e10PricingSpec"
  */
class Sf1e10PricingSpec extends AnyFunSuite {

  private val Budget = 20L
  private val N5 = 500000000L
  private val N6 = 5000000000L

  /** Sample divisor. At R = 100 the dominant terms stay tight: the
    * concentration-driven heavy-key mass (which decides FITTING/over
    * for every config here) samples at relative σ ≪ 1% (c/R ≫ 1 per
    * heavy key), and the planted c=2 dup mass — a few percent of any
    * config's total — survives at ~pairs/R² draws (σ ≈ 5% on that
    * component alone, ≲0.3% of the total). The validation envelopes
    * below are set an order of magnitude wider than these.
    */
  private val R = 100L

  /** Committed EXACT fifth-decade values (stratified sweep, round 20
    * — bench/sf10000_pricing_r20.txt): cand_pairs per config.
    */
  private val ExactN5MinHash: Map[Int, Long] = Map(
    2 -> 2756326L, 3 -> 385028303L, 4 -> 87800675397L,
    6 -> 6886589986633L)
  /** Committed EXACT fifth-decade SimHash64 values (round 19's exact
    * 500 M sweep — bench/sf10000_pricing_r19.txt).
    */
  private val ExactN5SimHash: Map[Int, Long] = Map(
    16 -> 8234937572400L, 32 -> 70612171L)

  private def gated(): Unit =
    assume(sys.env.contains("GRAFT_SF1E10") &&
      sys.env.contains("GRAFT_PERF"),
      "set GRAFT_SF1E10=1 AND GRAFT_PERF=1 for the sixth-decade rows")

  /** The JVM's own tmpdir, read before the session shape moves
    * `java.io.tmpdir` onto its scratch: the disk fallback for spill and
    * sweep scratch when /dev/shm lacks headroom.
    */
  private val diskTmp = sys.props("java.io.tmpdir")

  private def session() = {
    val shm = new java.io.File("/dev/shm")
    val spill =
      if (shm.isDirectory && shm.getFreeSpace > 60L * (1L << 30))
        "/dev/shm/graft_pricing_spill"
      else diskTmp
    graft.SessionTuning.builder(32, "pricing")
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.local.dir", spill)
      .getOrCreate()
  }

  private def scratch(tag: String) = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.getFreeSpace > 60L * (1L << 30))
        "/dev/shm/graft_occsweep6"
      else diskTmp + "/graft_occsweep6"
    s"$base/$tag"
  }

  /** Sampled stratified MinHash sweep → R²-scaled (pairs, docs). */
  private def minhashSampled(spark: org.apache.spark.sql.SparkSession,
      n: Long, grid: Seq[Int], inner: Int): Map[Int, (Long, Long)] = {
    val cfgOf = MinHashLsh.packedGridKeys(
      SketchGen.minhashSignatures(spark, 1L), 12, grid)._2
    val stats = OccupancySweep.exactStratified(spark,
      () => MinHashLsh.packedGridKeys(
        SketchGen.minhashSignatures(spark, n, sampleMod = R), 12, grid)._1,
      cfgOf, 1, inner, scratch(s"mh_n$n"))
    // per-doc loads are reported against the TRUE corpus size n (the
    // R-draw's doc count is itself binomial — no need to estimate it)
    stats.map { case (b, (p, _)) => b -> (p * R * R, n) }
  }

  /** Sampled stratified SimHash64 sweep over width grid {16, 32} →
    * R²-scaled (pairs, docs). Keys are ≤32-bit band slices packed
    * under a 32-bit shift.
    */
  private def simhashSampled(spark: org.apache.spark.sql.SparkSession,
      n: Long, grid: Seq[Int], inner: Int): Map[Int, (Long, Long)] = {
    val tags = for { w <- grid; band <- 0 until 64 / w } yield (w, band)
    val wByTag = tags.map(_._1).toArray
    val cfgOf = (p: Long) => wByTag((p >>> 32).toInt)
    def packed() = {
      val fp = SketchGen.simhash64Fingerprints(spark, n, sampleMod = R)
      val cols = tags.zipWithIndex.map { case ((w, band), tag) =>
        OccupancySweep.packTag(tag,
          expr(s"shiftright(sh, ${band * w})")
            .bitwiseAND(lit((1L << w) - 1)), 32)
      }
      fp.select(explode(array(cols: _*)).as("packed"))
    }
    val stats = OccupancySweep.exactStratified(spark, () => packed(),
      cfgOf, 1, inner, scratch(s"sh_n$n"))
    stats.map { case (w, (p, _)) => w -> (p * R * R, n) }
  }

  private def report(label: String, rows: Map[Int, (Long, Long)],
      keyName: String): Unit =
    for ((k, (p, nd)) <- rows.toSeq.sortBy(_._1))
      info(f"$label: $keyName=$k est_pairs=$p perDoc=${p.toDouble / nd}%.3f" +
        (if (p <= Budget * nd) " FITTING" else " over"))

  test("sixth decade (5e9 docs): MinHash sampled-exact row, N5 validation anchor") {
    gated()
    val spark = session()
    val grid = Seq(2, 3, 4, 6)
    // VALIDATION: the R-draw estimator at the fifth decade must
    // reproduce the committed exact values within the binomial
    // envelope (b=2's pair mass is small — wider band)
    val v = minhashSampled(spark, N5, grid, inner = 2)
    report(s"N5 validation (R=$R)", v, "bands")
    for (b <- grid) {
      val exact = ExactN5MinHash(b)
      val est = v(b)._1.toDouble
      val tol = if (b == 2) 0.25 else 0.10
      assert(math.abs(est - exact) <= tol * exact,
        s"bands=$b estimator ${est.toLong} vs exact $exact — outside " +
          s"the ±${(tol * 100).toInt}% validation envelope")
    }
    graft.operators.ShuffleHygiene.reclaim(spark)
    // SIXTH DECADE: 5e9/R effective docs, stratified
    val sixth = minhashSampled(spark, N6, grid, inner = 8)
    report(s"N6 = 5e9 (R=$R)", sixth, "bands")
    val perDoc3 = sixth(3)._1.toDouble / sixth(3)._2
    val perDoc4 = sixth(4)._1.toDouble / sixth(4)._2
    // the ceiling arithmetic: bands=3 still FITTING at 5e9 (exact-
    // decade ceiling projection ~1.6e10), bands=4 further out than
    // at 500M
    assert(perDoc3 <= Budget,
      f"bands=3 must still fit at 5e9 docs, got $perDoc3%.2f/doc")
    assert(perDoc4 > Budget, "bands=4 must stay priced out")
    info(f"bands=3 headroom at 5e9: ${Budget / perDoc3}%.1f x; " +
      "ceiling arithmetic confirmed a decade early")
    spark.stop()
  }

  test("sixth decade (5e9 docs): SimHash64 sampled-exact row, N5 validation anchor") {
    gated()
    val spark = session()
    val grid = Seq(16, 32)
    val v = simhashSampled(spark, N5, grid, inner = 2)
    report(s"N5 validation (R=$R)", v, "w")
    for (w <- grid) {
      val exact = ExactN5SimHash(w)
      val est = v(w)._1.toDouble
      assert(math.abs(est - exact) <= 0.10 * exact,
        s"w=$w estimator ${est.toLong} vs exact $exact — outside ±10%")
    }
    graft.operators.ShuffleHygiene.reclaim(spark)
    val sixth = simhashSampled(spark, N6, grid, inner = 4)
    report(s"N6 = 5e9 (R=$R)", sixth, "w")
    val perDoc32 = sixth(32)._1.toDouble / sixth(32)._2
    assert(perDoc32 <= Budget,
      f"w=32 must still fit at 5e9 docs, got $perDoc32%.2f/doc")
    assert(sixth(16)._1.toDouble / sixth(16)._2 > Budget,
      "w=16 must stay priced out")
    info(f"w=32 headroom at 5e9: ${Budget / perDoc32}%.1f x; " +
      "ceiling arithmetic confirmed a decade early")
    spark.stop()
  }
}
