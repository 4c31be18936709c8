package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BandedLsh, LshGuard, VecFns}

/** Embedding-cosine near-duplicate pairs.
  *
  * `bandedPairs` is the default and the 100 TB shape: banded
  * random-hyperplane LSH candidate generation — a pure equi-join on
  * (band, key), one shuffle on a short key, skew handled by AQE —
  * followed by exact quantized-cosine verification of the candidates
  * only. The O(N²) pair space is never materialized, nothing is
  * broadcast, and every reported score is exact (the LSH stage only
  * bounds which pairs are *examined*).
  *
  * `allPairs` is the exact quadratic baseline. It broadcasts one full
  * side, so it is guarded to small inputs: its job is to oracle-check
  * `bandedPairs`' verification arithmetic and measure band recall on
  * bounded fixtures (see VectorSpec), not to run on a corpus.
  */
object EmbedNearDup {

  /** Candidate pairs sharing at least one of `bands` keys of
    * `planesPerBand` hyperplane sign bits, verified with the exact
    * integer dot product.
    *
    * CACHING CONTRACT: the banded frame is `persist()`ed because both
    * self-join sides consume it — without materialization the scan +
    * bands·planesPerBand dot products per row would run twice. The
    * cached blocks live until the session caches are cleared; batch
    * callers issuing many independent `bandedPairs` calls should
    * either `spark.catalog.clearCache()` between calls (what
    * `graft.Bench` does) or use [[bandedPairsWithCleanup]] and invoke
    * the handle once the returned frame has been consumed. (The
    * banded frame is the input × bands in size — at true 100 TB
    * corpus scale prefer MEMORY_AND_DISK spill, which `persist()`'s
    * default level already is.)
    *
    * @param vecs   (idCol, vq, nsq): quantized vectors + squared norms
    *               (VecFns.quantize / dotQFast)
    * @param minCos keep pairs with round(cos, 6) >= minCos
    * @return (a, b, cos_r) with a < b, each candidate pair scored once
    */
  def bandedPairs(vecs: DataFrame, idCol: String, bands: Int,
      planesPerBand: Int, dim: Int, minCos: Double,
      maxBucket: Int = LshGuard.DefaultMaxBucket): DataFrame = {
    val (pairs, release) = bandedPairsWithCleanup(vecs, idCol, bands,
      planesPerBand, dim, minCos, maxBucket)
    graft.functions.PersistLeases.register(release)
    pairs
  }

  /** [[bandedPairs]] plus an unpersist handle for the banded frame —
    * call it after the consuming action to release the cached blocks
    * deterministically (idempotent, non-blocking).
    *
    * Hot-bucket guard: a (band, key) cell holding more than
    * `maxBucket` vectors (a degenerate hyperplane cell — e.g. millions
    * of zero or boilerplate-identical embeddings) skips the all-pairs
    * self-join and is chain-linked in (quantized-vector, id) order by
    * the [[BandedLsh]] guard, bounding the cell to O(m) candidate
    * pairs while keeping it one connected component. Identical vectors
    * are contiguous in that order, so their chain links verify at
    * cos = 1 and survive the `minCos` filter; only links between
    * genuinely different vectors can be filtered, as they would be on
    * the all-pairs path. Chained candidates still go through the exact
    * cosine verify.
    */
  def bandedPairsWithCleanup(vecs: DataFrame, idCol: String, bands: Int,
      planesPerBand: Int, dim: Int, minCos: Double,
      maxBucket: Int = LshGuard.DefaultMaxBucket): (DataFrame, () => Unit) = {
    val (cand, release) = BandedLsh.execute(family(vecs, idCol, bands, dim),
      planesPerBand, None, maxBucket)
    (verify(cand, minCos), release)
  }

  /** One row per (vector, band) with the band's packed sign key. The
    * signs come from ONE [[VecFns.planeSignMask]] kernel per row and
    * the keys are bit extraction — never bands·p inline dot
    * expressions, whose generated projection breaches the JIT
    * method-size cliff past ~32 planes and runs interpreted (the
    * round-16 q187 derived-grid regression: 68 s vs 8 s at 200 k
    * vectors). Bit-identical to `VecFns.lshBandKey` per band.
    */
  private def bandedFrame(vecs: DataFrame, idCol: String, bands: Int,
      planesPerBand: Int, dim: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        VecFns.bandKeyFromMask(col("__mask"), b, planesPerBand).as("key"))
    }
    vecs
      .withColumn("__mask",
        VecFns.planeSignMask(col("vq"), bands * planesPerBand, dim))
      .withColumn("__bk", explode(array(bandKeys: _*)))
      .select(col(idCol), col("vq"), col("nsq"),
        col("__bk.band").as("band"), col("__bk.key").as("key"))
  }

  /** The hyperplane [[BandedLsh.Family]] over quantized vectors
    * (`id`, vq, nsq) at a fixed band count: configs are planes per
    * band. The grid's prelude is ONE sign-mask kernel per vector,
    * `nBands · grid.max` planes wide and shared by every config
    * (config p's band b reads bits b·p .. b·p+p−1) — per-plane sign
    * COLUMNS hit the JIT method-size cliff past ~32 planes (60 s vs
    * 4.5 s at 200 k vectors). Hot chains run in quantized-vector
    * order; pairs carry both sides' vectors and squared norms for
    * [[verify]].
    */
  def family(vecs: DataFrame, id: String, nBands: Int,
      dim: Int): BandedLsh.Family = {
    // self-sufficient registration (idempotent): the mask kernel is a
    // registered function, and not every caller runs after a query
    // that registered the session
    graft.functions.expressions.GraftFunctions.register(vecs.sparkSession)
    new BandedLsh.Family {
      val idCol = id
      val recallOrder = Ordering.Int
      def bands(p: Int): Int = nBands
      def gridInput(grid: Seq[Int]): DataFrame = vecs.select(
        VecFns.planeSignMask(col("vq"), nBands * grid.max, dim).as("__mask"))
      def gridKey(p: Int, band: Int): Column =
        VecFns.bandKeyFromMask(col("__mask"), band, p)
      def banded(p: Int): DataFrame = bandedFrame(vecs, id, nBands, p, dim)
      def content: Column = col("vq")
      def pair(lo: String => Column, hi: String => Column): Seq[Column] =
        Seq(lo("vq").as("a_vq"), lo("nsq").as("a_nsq"),
          hi("vq").as("b_vq"), hi("nsq").as("b_nsq"))
    }
  }

  /** Calibrate-then-execute banded pairs — the operator that CONSUMES
    * the q184 planes-per-band calibration instead of running a fixed
    * geometry. One projection over the quantized vectors prices every
    * config in `planeGrid` ([[calibratePlanesFused]]); the NARROWEST
    * config whose candidate load fits `pairsPerVecBudget` pairs per
    * vector is selected (fewer planes → higher recall → more pairs;
    * widest config as fallback — q184's exact rule), and the banded
    * join executes with the selection.
    *
    * @return (selectedPlanesPerBand, scored pairs as in bandedPairs)
    */
  def calibratedPairs(vecs: DataFrame, idCol: String, bands: Int,
      planeGrid: Seq[Int], dim: Int, minCos: Double,
      pairsPerVecBudget: Long = 20L,
      maxBucket: Int = LshGuard.DefaultMaxBucket): (Int, DataFrame) = {
    val (sel, pairs, release) = calibratedPairsWithCleanup(vecs, idCol, bands,
      planeGrid, dim, minCos, pairsPerVecBudget, maxBucket)
    graft.functions.PersistLeases.register(release)
    (sel, pairs)
  }

  /** [[calibratedPairs]] plus the banded frame's unpersist handle
    * (see [[bandedPairsWithCleanup]]).
    */
  def calibratedPairsWithCleanup(vecs: DataFrame, idCol: String, bands: Int,
      planeGrid: Seq[Int], dim: Int, minCos: Double,
      pairsPerVecBudget: Long = 20L,
      maxBucket: Int = LshGuard.DefaultMaxBucket): (Int, DataFrame, () => Unit) = {
    val fam = family(vecs, idCol, bands, dim)
    val (selected, hot) =
      calibratePlanesFused(fam, planeGrid, pairsPerVecBudget, maxBucket)
    val (cand, release) = BandedLsh.execute(fam, selected, hot, maxBucket)
    (selected, verify(cand, minCos), release)
  }

  /** Hard ceiling for planes per band, shared by [[planeGridFor]]'s
    * derived ceiling and [[calibratePlanesFused]]'s extend-on-
    * overshoot loop — 16M cells per band prices out any realistic
    * budget long before the cap binds.
    */
  val PlaneCap = 24

  /** Planes-per-band grid scaled to the corpus — the ceiling the
    * fixed 2/4/6/8 grid lacked. On isotropic vectors each band's 2^p
    * cells hold ~N/2^p vectors, so the expected candidate load is
    * bands·N²/2^(p+1); fitting a B-pairs-per-vector budget needs
    * 2^p ≳ bands·N/(2B), i.e. **p ≳ log₂(bands·N/(2B))**. Hyperplane
    * collision RATE is scale-invariant (ARCHITECTURE: within-cell
    * pairs densify as the corpus grows), so a fixed ceiling
    * eventually prices every config over the budget and the guarded
    * fallback executes forever — the grid must grow with log N for a
    * fitting selection to keep existing. Even steps from 2 up to the
    * derived ceiling (never below 8, so small corpora keep today's
    * grid and the q184/q187 oracles replay unchanged at harness
    * scales; capped at [[PlaneCap]]).
    */
  def planeGridFor(nVecs: Long, bands: Int = 4,
      pairsPerVecBudget: Long = 20L): Seq[Int] = {
    require(bands >= 1 && pairsPerVecBudget >= 1)
    val need = math.max(1.0,
      bands.toDouble * math.max(nVecs, 1L) / (2.0 * pairsPerVecBudget))
    val pFit = math.ceil(math.log(need) / math.log(2.0)).toInt
    val pMax = math.min(PlaneCap, math.max(8, ((pFit + 1) / 2) * 2))
    2 to pMax by 2
  }

  /** [[BandedLsh.calibrate]] with extend-on-overshoot for a hyperplane
    * [[family]] (VERDICT r16 #2): `planeGridFor`'s ceiling is exact
    * on isotropic vectors, but clustered corpora densify cells and can
    * price out the whole derived grid (sf100: the p=18 fallback
    * executed 1.9× its budget while the cap had rungs to spare). The
    * sweep knows the fallback's load BEFORE executing, so when nothing
    * fits and headroom remains two more rungs are swept (+2, +4 —
    * `need` doubles per plane, so two rungs cover a 16× densification)
    * instead of executing a known overshoot. Each extension round
    * re-sweeps ONLY the new rungs; priced-out rungs stay priced out.
    * At the cap the guarded fallback executes. Isotropic corpora fit
    * inside the derived grid and never extend, and at harness scales
    * (≤2k vectors) the grid is the static 2/4/6/8 the oracles replay.
    *
    * @return (selected planes, the selected config's hot cells for
    *         [[BandedLsh.execute]])
    */
  def calibratePlanesFused(fam: BandedLsh.Family, planeGrid: Seq[Int],
      pairsPerVecBudget: Long, maxBucket: Int): (Int, BandedLsh.Hot) = {
    var grid = planeGrid
    while (true) {
      val occ = BandedLsh.occupancy(fam, grid).persist()
      try {
        val (selected, fits) = BandedLsh.select(occ, fam, grid, pairsPerVecBudget)
        if (fits || selected + 2 > PlaneCap)
          return (selected, BandedLsh.collectHot(occ, selected, maxBucket))
      } finally { occ.unpersist(blocking = false); () }
      grid = Seq(grid.max + 2, math.min(grid.max + 4, PlaneCap)).distinct
    }
    sys.error("unreachable: extension loop always returns at the cap")
  }

  /** Exact all-pairs near-dup — O(N²) with a full-side broadcast.
    * Guarded: refuses inputs above `maxRows` (the scale path is
    * `bandedPairs`).
    */
  def allPairs(vecs: DataFrame, idCol: String, minCos: Double,
      maxRows: Long = 20000): DataFrame = {
    val n = vecs.count()
    require(n <= maxRows,
      s"allPairs is O(N²) and broadcasts a full side — guarded to" +
        s" N <= $maxRows, got $n; use bandedPairs for large inputs")
    val a = vecs.toDF("a", "a_vq", "a_nsq")
    val b = broadcast(vecs.toDF("b", "b_vq", "b_nsq"))
    verify(a.join(b, col("a") < col("b")), minCos)
  }

  /** Exact quantized-cosine scoring of candidate pairs (a, b, a_vq,
    * a_nsq, b_vq, b_nsq): (a, b, cos_r) with round(cos, 6) >= minCos.
    */
  private[graft] def verify(cand: DataFrame, minCos: Double): DataFrame =
    cand
      .withColumn("cos", VecFns.cosineFromQ(
        VecFns.dotQFast(col("a_vq"), col("b_vq")),
        col("a_nsq"), col("b_nsq")))
      .withColumn("cos_r", round(col("cos"), 6))
      .filter(col("cos_r") >= minCos)
      .select("a", "b", "cos_r")
}
