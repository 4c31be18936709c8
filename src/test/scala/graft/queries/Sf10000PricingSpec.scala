package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.tools.SketchGen

/** FIFTH-decade pricing (VERDICT r18 #7): the calibration sweeps are
  * |grid|-row aggregations, so the sf10000-equivalent corpora (500 M
  * docs / 200 M vectors — ~110 GB as text, more than this box's free
  * disk) can still be PRICED without executing any band join: the
  * ScaleGen corpora are pure functions of the row id, and
  * [[graft.tools.SketchGen]] computes each document's sketch in-flight
  * (bit-identical to the production operators over the materialized
  * text — SketchGenSpec pins it per-id). Each row below first re-runs
  * its sweep at the fourth decade and asserts EQUALITY with the
  * committed measured sf1000 referee values
  * (`bench/sf1000_text_audits_r18.txt`) — the anchor that makes the
  * 500 M numbers the real corpus's numbers, not a model's — then
  * prices the full grid one decade up and reports which configs fit
  * and where the next representation ceiling sits. All THREE families
  * now sweep their fifth decade EXACTLY (round 20 — VERDICT r19 #1):
  * SimHash64 and hyperplane spill modestly (bit-key occupancies), and
  * the MinHash row — whose plain sweep sort-spills ~one row per
  * distinct md5 key, past this box at 500 M — runs through
  * [[graft.functions.OccupancySweep.exactStratified]], the
  * bounded-peak GRACE-style exact aggregation (peak disk = one
  * generator pass's strata + one stratum's shuffle). The one-decade
  * ladder survives as an alpha-envelope cross-check on the exact
  * result.
  *
  * Volume-gated (tens of minutes, tens of GB of transient shuffle):
  *
  *   GRAFT_SF10000=1 GRAFT_PERF=1 sbt "testOnly graft.queries.Sf10000PricingSpec"
  *
  * Findings land in bench/sf10000_pricing_r19.txt + ARCHITECTURE.
  */
class Sf10000PricingSpec extends AnyFunSuite {

  private val Budget = 20L
  private val N4 = 50000000L   // fourth decade (the committed anchor)
  private val N5 = 500000000L  // fifth decade
  private val V4 = 20000000L
  private val V5 = 200000000L

  private def gated(): Unit = {
    assume(sys.env.contains("GRAFT_SF10000") &&
      sys.env.contains("GRAFT_PERF"),
      "set GRAFT_SF10000=1 AND GRAFT_PERF=1 to run the fifth-decade" +
        " pricing sweeps (long; tens of GB of transient shuffle)")
  }

  /** The JVM's own tmpdir, read before the session shape moves
    * `java.io.tmpdir` onto its scratch: the disk fallback for spill and
    * sweep scratch when /dev/shm lacks headroom.
    */
  private val diskTmp = sys.props("java.io.tmpdir")

  private def session() = {
    // the grid-occupancy aggregations sort-spill tens of GB of
    // ~unique-key rows; tmpfs spill (when present with headroom)
    // keeps the decade sweeps IO-bound on memory bandwidth instead of
    // the disk — a measurement-harness choice, not an engine one
    val shm = new java.io.File("/dev/shm")
    val spill =
      if (shm.isDirectory && shm.getFreeSpace > 80L * (1L << 30))
        "/dev/shm/graft_pricing_spill"
      else diskTmp
    graft.SessionTuning.builder(32, "pricing")
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.local.dir", spill)
      .getOrCreate()
  }

  /** The q185 MinHash band sweep over a signature frame — identical
    * aggregation and values to ScaleCalibrationSpec.auditAt's
    * construction, but the whole grid's band keys explode from ONE
    * pass over the signatures (the per-config-union form recomputes
    * the signature source once per grid member; at 500 M in-flight
    * sketches that is the difference between one generator pass and
    * four).
    */
  private def minhashSweep(sigs: org.apache.spark.sql.DataFrame,
      grid: Seq[Int]): Map[Int, (Long, Long)] = {
    import graft.functions.MinHashLsh
    val k = 12
    val keys = for { b <- grid; band <- 0 until b } yield {
      val r = k / b
      struct(lit(b).as("bands"), lit(band).as("band"),
        MinHashLsh.bandKeyCol(
          (band * r until (band + 1) * r).map(i => col(s"s$i"))).as("key"))
    }
    sigs.select(explode(array(keys: _*)).as("bk"))
      .select(col("bk.bands"), col("bk.band"), col("bk.key"))
      .groupBy("bands", "band", "key")
      .agg(count(lit(1)).as("m"))
      .groupBy("bands")
      .agg(sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
        sum(col("m")).as("tot"))
      .withColumn("n_docs", expr("tot div bands"))
      .collect()
      .map(r => r.getAs[Int]("bands") ->
        (r.getAs[Long]("cand_pairs"), r.getAs[Long]("n_docs"))).toMap
  }

  /** SimHash64 width sweep — same values as `BandedLsh.sweep` over
    * the SimHash64 family,
    * single pass over the fingerprints (same rationale as
    * [[minhashSweep]]; band keys here are pure bit arithmetic).
    */
  private def simhash64Sweep(sigs: org.apache.spark.sql.DataFrame,
      grid: Seq[Int]): Map[Int, (Long, Long)] = {
    val keys = for { w <- grid; band <- 0 until 64 / w } yield
      struct(lit(w).as("w"), lit(band).as("band"),
        expr(s"shiftright(sh, ${band * w})")
          .bitwiseAND(lit((1L << w) - 1)).as("key"))
    sigs.select(explode(array(keys: _*)).as("bk"))
      .select(col("bk.w"), col("bk.band"), col("bk.key"))
      .groupBy("w", "band", "key")
      .agg(count(lit(1)).as("m"))
      .groupBy("w")
      .agg(sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
        sum(col("m")).as("tot"))
      .withColumn("n_docs", expr("tot div (64 div w)"))
      .collect()
      .map(r => r.getAs[Int]("w") ->
        (r.getAs[Long]("cand_pairs"), r.getAs[Long]("n_docs"))).toMap
  }

  /** The bounded-peak EXACT sweep (VERDICT r19 #1): packed grid keys
    * through [[graft.functions.OccupancySweep.exactStratified]] —
    * same values as [[minhashSweep]] (OccupancySweepSpec pins the
    * equality shape; the 50M anchor below pins it at decade scale
    * against the committed referee), with peak disk bounded by
    * (outer, inner) instead of the distinct-key count.
    */
  private def minhashSweepStratified(spark: org.apache.spark.sql.SparkSession,
      n: Long, grid: Seq[Int], outer: Int, inner: Int)
      : Map[Int, (Long, Long)] = {
    import graft.functions.{MinHashLsh, OccupancySweep}
    val scratchBase = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.getFreeSpace > 80L * (1L << 30))
        "/dev/shm/graft_occsweep"
      else diskTmp + "/graft_occsweep"
    }
    val cfgOf = MinHashLsh.packedGridKeys(
      SketchGen.minhashSignatures(spark, 1L), 12, grid)._2
    val stats = OccupancySweep.exactStratified(spark,
      () => MinHashLsh.packedGridKeys(
        SketchGen.minhashSignatures(spark, n), 12, grid)._1,
      cfgOf, outer, inner, s"$scratchBase/n$n")
    // exactStratified reports totalRows per config (= n_docs × bands);
    // normalize to the (cand_pairs, n_docs) shape of minhashSweep
    stats.map { case (b, (p, tot)) => b -> (p, tot / b) }
  }

  test("sf10000-docs (500M): MinHash priced EXACTLY by the stratified sweep") {
    gated()
    val spark = session()
    val grid = Seq(2, 3, 4, 6)
    // Round 19 priced this row by ladder + measured-exponent
    // extrapolation: the plain grid-occupancy aggregation sort-spills
    // ~one row per distinct 60-bit key (~33 GB at 50M, ~10× at 500M —
    // past this box). Round 20 (VERDICT r19 #1): the stratified exact
    // sweep bounds peak disk by (outer × inner) strata — 2 generator
    // passes × 8 strata keep ≤ ~30 GB of packed keys + one stratum's
    // shuffle live at any instant — so the fifth-decade row is now
    // EXACT on this box. The one-decade ladder below survives as the
    // alpha-envelope cross-check on the exact result.
    def sweep(n: Long) = minhashSweep(
      SketchGen.minhashSignatures(spark, n), grid)
    val rungs = Seq(5000000L, 15000000L)
    val ladder = rungs.map { n =>
      val s = sweep(n)
      graft.operators.ShuffleHygiene.reclaim(spark)
      for ((b, (p, nd)) <- s.toSeq.sortBy(_._1))
        info(s"ladder $n: bands=$b cand_pairs=$p perDoc=" +
          f"${p.toDouble / nd}%.3f budget=${Budget * nd}" +
          (if (p <= Budget * nd) " FITTING" else " over"))
      n -> s
    }.toMap
    // ANCHOR: the 50M rung THROUGH THE STRATIFIED MACHINERY must
    // reproduce the committed measured fourth-decade referee EXACTLY
    // — the same machinery then prices 500M, so the fifth-decade
    // numbers are the real corpus's numbers
    val anchor = minhashSweepStratified(spark, N4, grid, outer = 1,
      inner = 4)
    for ((b, (p, nd)) <- anchor.toSeq.sortBy(_._1))
      info(s"anchor 50M (stratified): bands=$b cand_pairs=$p perDoc=" +
        f"${p.toDouble / nd}%.3f")
    assert(anchor(4)._2 == N4)
    assert(anchor(4)._1 == 871427449L,
      "stratified anchor must equal the committed sf1000 measured value")
    graft.operators.ShuffleHygiene.reclaim(spark)
    // FIFTH DECADE, EXACT: ~60 GB of packed keys split over 2
    // generator passes × 8 strata
    val t0 = System.nanoTime()
    val fifth = minhashSweepStratified(spark, N5, grid, outer = 2,
      inner = 8)
    info(f"500M exact stratified sweep: ${(System.nanoTime() - t0) / 60e9}%.1f min")
    val fitting = fifth.toSeq
      .filter { case (_, (p, nd)) => p <= Budget * nd }.map(_._1)
    for ((b, (p, nd)) <- fifth.toSeq.sortBy(_._1)) {
      assert(nd == N5, s"bands=$b row count must cover all of N5")
      // alpha ENVELOPE: the exact value must sit within 2× of the
      // ladder's measured-exponent prediction (the r19 committed
      // extrapolation methodology, now cross-checked by exactness)
      val l15 = ladder(15000000L)(b)._1.toDouble / 15000000L
      val l50 = anchor(b)._1.toDouble / N4
      val alpha = math.log(l50 / l15) / math.log(N4 / 15000000.0)
      val predicted = l50 * math.pow(N5.toDouble / N4, alpha)
      val measured = p.toDouble / nd
      info(f"sf10000 500M EXACT: bands=$b cand_pairs=$p perDoc=" +
        f"$measured%.3f (alpha-predicted $predicted%.2f, alpha=$alpha%.2f)" +
        (if (p <= Budget * nd) " FITTING" else " over"))
      if (predicted > 1e-3) // b=2's ~flat load is noise-dominated
        assert(measured <= predicted * 2 && measured >= predicted / 2,
          s"bands=$b exact 500M load $measured outside the ladder's " +
            s"alpha envelope around $predicted")
    }
    // the r19 finding, now exact: bands=4 prices out at the fifth
    // decade and the selection shifts to bands=3
    assert(fitting.nonEmpty && fitting.max == 3,
      s"fifth-decade selection must shift to bands=3, got $fitting")
    assert(!fitting.contains(4), "bands=4 must price out at 500M")
    spark.stop()
  }

  test("sf10000-docs (500M): SimHash64 pricing sweep, 50M row as anchor") {
    gated()
    val spark = session()
    import graft.functions.SimHash64
    def sweep(n: Long): Map[Int, (Long, Long)] =
      simhash64Sweep(SketchGen.simhash64Fingerprints(spark, n),
        SimHash64.DefaultWidthGrid)
    // ANCHOR: the committed fourth-decade referee values, exactly
    val anchor = sweep(N4)
    for ((w, (p, n)) <- anchor.toSeq.sortBy(_._1))
      info(s"anchor 50M: w=$w cand_pairs=$p budget=${Budget * n}")
    assert(anchor(32)._1 == 887108L &&
      anchor(16)._1 == 82347536662L &&
      anchor(8)._1 == 40529707742400L &&
      anchor(4)._1 == 1272822776131142L,
      "anchor sweep must equal the committed sf1000 measured values")
    graft.operators.ShuffleHygiene.reclaim(spark)
    val fifth = sweep(N5)
    val fitting = fifth.toSeq.filter { case (_, (p, n)) => p <= Budget * n }
      .map(_._1)
    for ((w, (p, n)) <- fifth.toSeq.sortBy(_._1))
      info(s"sf10000 500M: w=$w cand_pairs=$p budget=${Budget * n}" +
        (if (p <= Budget * n) " FITTING" else " over"))
    info(s"sf10000 selection: " +
      (if (fitting.nonEmpty) s"w=${fitting.min} (FITTING)"
       else "w=32 (FALLBACK)") +
      "; uniform-mass ceiling for w=32 at budget 20: N ~ 8.6e10 docs")
    assert(fifth(32)._2 == N5)
    // the headroom claim one decade further: w=32's uniform-mass load
    // is ~ 2N/2^33 pairs/doc — still fitting at 500M by a wide margin
    assert(fitting.contains(32),
      "w=32 must still fit at the fifth decade (keyspace headroom)")
    spark.stop()
  }

  test("sf10000-vecs (200M): hyperplane pricing sweep, 20M row as anchor") {
    gated()
    val spark = session()
    import graft.operators.EmbedNearDup
    graft.functions.expressions.GraftFunctions.register(spark)
    val (bands, dim) = (4, 64)
    // ANCHOR at 20M: the sketch sweep vs the MATERIALIZED sf1000
    // embeddings parquet (when present) over the same derived grid —
    // row-for-row equality
    val derived4 = EmbedNearDup.planeGridFor(V4, bands, Budget)
    def planeSweep(vecs: org.apache.spark.sql.DataFrame, grid: Seq[Int]) =
      graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
        EmbedNearDup.family(vecs, "vec_id", bands, dim), grid))
    val sketch4 = planeSweep(SketchGen.quantizedVecs(spark, V4), derived4)
      .collect().map(r => r.getAs[Int]("cfg") ->
        (r.getAs[Long]("cand_pairs"), r.getAs[Long]("n_docs"))).toMap
    for ((p, (c, n)) <- sketch4.toSeq.sortBy(_._1))
      info(s"anchor 20M: p=$p cand_pairs=$c budget=${Budget * n}")
    val parquetDir = "bench/sfgen/sf1000/embeddings.parquet"
    if (new java.io.File(parquetDir).exists()) {
      import graft.functions.VecFns
      val real = planeSweep(
          spark.read.parquet(parquetDir)
            .repartition(spark.sparkContext.defaultParallelism)
            .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq")),
          derived4)
        .collect().map(r => r.getAs[Int]("cfg") ->
          (r.getAs[Long]("cand_pairs"), r.getAs[Long]("n_docs"))).toMap
      assert(real == sketch4,
        "sketch sweep must equal the materialized-corpus sweep at 20M")
      info("anchor verified against the materialized sf1000 embeddings")
    } else info("sf1000 embeddings absent — anchor is the sketch sweep alone")
    graft.operators.ShuffleHygiene.reclaim(spark)
    // FIFTH DECADE: the derived grid at 200M (plus the cap rung)
    val derived5 = (EmbedNearDup.planeGridFor(V5, bands, Budget) ++
      Seq(EmbedNearDup.PlaneCap)).distinct.sorted
    val fifth = planeSweep(SketchGen.quantizedVecs(spark, V5), derived5)
      .collect().map(r => r.getAs[Int]("cfg") ->
        (r.getAs[Long]("cand_pairs"), r.getAs[Long]("n_docs"))).toMap
    val fitting = fifth.toSeq.filter { case (_, (c, n)) => c <= Budget * n }
      .map(_._1)
    for ((p, (c, n)) <- fifth.toSeq.sortBy(_._1))
      info(s"sf10000 200M: p=$p cand_pairs=$c budget=${Budget * n}" +
        (if (c <= Budget * n) " FITTING" else " over"))
    info(s"sf10000 selection: " +
      (if (fitting.nonEmpty) s"p=${fitting.min} (FITTING)"
       else s"p=${EmbedNearDup.PlaneCap} (CAP FALLBACK — the committed" +
         " over-budget-at-cap proof extends a decade)"))
    assert(fifth.values.forall(_._2 == V5))
    spark.stop()
  }
}
