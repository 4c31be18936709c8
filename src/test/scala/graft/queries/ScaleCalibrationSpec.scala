package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.functions.{MinHashLsh, TextFns}

/** Prediction-vs-measured audit of the LSH self-calibration one and
  * two decades above the harness corpus (VERDICT r13 #6): the q185
  * sweep's `cand_pairs` is an exact *prediction* of the banded join's
  * candidate load (Σ m·(m−1)/2 over buckets counts the join's output
  * pairs with band multiplicity); this spec executes the join at the
  * SELECTED config and asserts the prediction bounds what actually
  * came out, and that both respect the budget the calibration
  * enforced. GRAFT_PERF-gated and data-gated:
  *
  *   sbt "runMain graft.tools.ScaleGen bench/sfgen/sf10 500000 200000"
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.ScaleCalibrationSpec"
  */
class ScaleCalibrationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val K = 12
  private val BandGrid = Seq(2, 3, 4, 6)
  private val Budget = 20L

  private def auditAt(dir: String): Unit = {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("t", TextFns.tokens(col("text")))
    val sigs = MinHashLsh
      .signaturesFromTokens(docs, "doc_id", "t", 3, K).persist()
    // the q185 sweep, from the shared signature pass — scoped inside
    // its own def so that after the |grid|-row collect nothing
    // references the grid frames and the sweep's shuffle (the
    // decade chains' biggest: 15 band rows/doc) is reclaimable
    // BEFORE the band join adds its own (the round-17 retained-
    // shuffle post-mortem; ShuffleHygiene)
    def sweep(): Array[org.apache.spark.sql.Row] = {
      val keyed = BandGrid.map { b =>
        MinHashLsh.bandKeys(sigs, "doc_id", K, b)
          .select(lit(b).as("bands"), col("band"), col("key"))
      }.reduce(_ unionByName _)
      keyed.groupBy("bands", "band", "key")
        .agg(count(lit(1)).as("m"))
        .groupBy("bands")
        .agg(sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
          sum(col("m")).as("tot"))
        .withColumn("n_docs", expr("tot div bands"))
        .collect()
    }
    val stats = sweep()
    val retainedPeak = graft.operators.ShuffleHygiene.retainedShuffleBytes(spark)
    graft.operators.ShuffleHygiene.reclaim(spark)
    info(s"retained shuffle bytes: $retainedPeak after sweep, " +
      s"${graft.operators.ShuffleHygiene.retainedShuffleBytes(spark)}" +
      " after reclaim")
    val nDocs = stats.head.getAs[Long]("n_docs")
    val fitting = stats.filter(r =>
      r.getAs[Long]("cand_pairs") <= r.getAs[Long]("n_docs") * Budget)
      .map(_.getAs[Int]("bands"))
    val selected =
      if (fitting.nonEmpty) fitting.max
      else stats.map(_.getAs[Int]("bands")).min
    val predicted = stats.find(_.getAs[Int]("bands") == selected).get
      .getAs[Long]("cand_pairs")
    // execute the banded join at the selection; measured distinct
    // pairs ≤ predicted multiset count, and within the budget when a
    // fitting config existed
    val measured = MinHashLsh.candidatePairs(sigs, "doc_id", K, selected)
      .count()
    info(s"$dir: n_docs=$nDocs selected=$selected bands, " +
      s"predicted<=$predicted pairs, measured=$measured " +
      s"(budget ${Budget * nDocs})")
    assert(measured <= predicted,
      s"banded join emitted $measured pairs, sweep predicted <=$predicted")
    if (fitting.nonEmpty)
      assert(measured <= Budget * nDocs,
        s"selected config $selected broke its own budget: " +
          s"$measured > ${Budget * nDocs}")
    sigs.unpersist()
    spark.catalog.clearCache()
  }

  test("sf1-docs (50k): selected config's measured load within budget") {
    auditAt("bench/sfgen/sf1")
  }

  test("sf1-docs: 16-bit SimHash family prices itself out of the budget") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf1"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    // the 16-bit fingerprint has at most 2^w buckets per band, so past
    // ~10k docs every width's candidate load exceeds a 20-pairs/doc
    // budget — the sweep must PRICE that (so the caller can route the
    // corpus to the MinHash family, whose 28-bit-per-component keyspace
    // keeps fitting) rather than execute a quadratic join. Sweep-only,
    // through the SHARED operator q189 executes (one rule, one code
    // path): no config is executed here.
    import graft.functions.SimHash
    val sigs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      .distinct()
      .groupBy("doc_id").agg(SimHash.simhashAgg(col("tok")).as("sh"))
    val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
      SimHash.family(sigs, "doc_id", "sh"), SimHash.DefaultWidthGrid)).collect()
    for (r <- stats)
      info(s"w=${r.getAs[Int]("cfg")}: cand_pairs=${r.getAs[Long]("cand_pairs")}" +
        s" budget=${Budget * r.getAs[Long]("n_docs")}")
    val fitting = stats.filter(r => r.getAs[Long]("cand_pairs") <=
      r.getAs[Long]("n_docs") * Budget)
    assert(fitting.isEmpty,
      "expected every 16-bit SimHash config to exceed the budget at 50k docs")
    val fam = SimHash.family(sigs, "doc_id", "sh")
    assert(graft.functions.BandedLsh.select(graft.functions.BandedLsh.occupancy(
        fam, SimHash.DefaultWidthGrid), fam, SimHash.DefaultWidthGrid, Budget)._1
      === SimHash.DefaultWidthGrid.max,
      "no fitting config must select the widest fallback")
    spark.catalog.clearCache()
  }

  test("sf10-docs (500k): selected config's measured load within budget") {
    auditAt("bench/sfgen/sf10")
  }

  test("sf100-docs (5M): selected config's measured load within budget") {
    // third docs decade (VERDICT r15 #7): the same audit, one decade
    // further — selection shifts or the priced-out fallback routes,
    // and the prediction must still bound the guarded execution
    auditAt("bench/sfgen/sf100")
  }

  test("sf100-docs (5M): 16-bit SimHash stays priced out of the budget") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf100"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    import graft.functions.SimHash
    val sigs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      .distinct()
      .groupBy("doc_id").agg(SimHash.simhashAgg(col("tok")).as("sh"))
    val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
      SimHash.family(sigs, "doc_id", "sh"), SimHash.DefaultWidthGrid)).collect()
    for (r <- stats)
      info(s"w=${r.getAs[Int]("cfg")}: cand_pairs=${r.getAs[Long]("cand_pairs")}" +
        s" budget=${Budget * r.getAs[Long]("n_docs")}")
    assert(stats.forall(r => r.getAs[Long]("cand_pairs") >
      r.getAs[Long]("n_docs") * Budget),
      "expected every 16-bit config to exceed the budget at 5M docs")
    val fam = SimHash.family(sigs, "doc_id", "sh")
    assert(graft.functions.BandedLsh.select(graft.functions.BandedLsh.occupancy(
        fam, SimHash.DefaultWidthGrid), fam, SimHash.DefaultWidthGrid, Budget)._1
      === SimHash.DefaultWidthGrid.max)
    spark.catalog.clearCache()
  }

  test("sf100-vecs (2M): hyperplane derived grid at the third decade") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf100"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    import graft.functions.VecFns
    import graft.operators.EmbedNearDup
    graft.functions.expressions.GraftFunctions.register(spark)
    val (bands, dim) = (4, 64)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
      .persist()
    val n = vecs.count()
    val grid = EmbedNearDup.planeGridFor(n, bands, Budget)
    info(s"n_vec=$n planeGridFor -> $grid")
    val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
        EmbedNearDup.family(vecs, "vec_id", bands, dim), grid)).collect()
    for (r <- stats.sortBy(_.getAs[Int]("cfg")))
      info(s"p=${r.getAs[Int]("cfg")}: " +
        s"cand_pairs=${r.getAs[Long]("cand_pairs")} budget=${Budget * n}")
    val fitting = stats.filter(r =>
      r.getAs[Long]("cand_pairs") <= r.getAs[Long]("n_docs") * Budget)
      .map(_.getAs[Int]("cfg"))
    val selected = if (fitting.nonEmpty) fitting.min else grid.max
    val predicted = stats.find(_.getAs[Int]("cfg") == selected).get
      .getAs[Long]("cand_pairs")
    info(s"selected=$selected planes " +
      s"(${if (fitting.nonEmpty) "FITTING" else "FALLBACK"}), " +
      s"predicted<=$predicted")
    // Round 17 (VERDICT r16 #2): the production path now EXTENDS on
    // overshoot — when the derived grid prices out entirely and rungs
    // remain below PlaneCap, calibratePlanesFused sweeps two more
    // rungs instead of executing a known 1.9x-over-budget fallback.
    // Done-criterion: a fitting selection past the derived ceiling,
    // or a committed proof that the cap itself is over budget.
    val (selExt, pairsExt, releaseExt) =
      EmbedNearDup.calibratedPairsWithCleanup(
        vecs, "vec_id", bands, grid, dim, minCos = -1.0, Budget)
    val measured = pairsExt.count()
    releaseExt()
    info(s"extend-on-overshoot executed: selected=$selExt planes, " +
      s"measured=$measured (budget=${Budget * n}, cap=${EmbedNearDup.PlaneCap})")
    if (fitting.isEmpty)
      assert(selExt > grid.max || selExt == EmbedNearDup.PlaneCap,
        s"grid priced out but the fused path neither extended past " +
          s"${grid.max} nor hit the cap (got $selExt)")
    assert(measured <= Budget * n || selExt == EmbedNearDup.PlaneCap,
      s"extended selection $selExt broke its budget without being the " +
        s"capped fallback: $measured > ${Budget * n}")
    if (selExt == EmbedNearDup.PlaneCap && measured > Budget * n)
      info(s"committed proof: cap p=$selExt still over budget on the " +
        s"clustered corpus ($measured > ${Budget * n})")
    vecs.unpersist()
    spark.catalog.clearCache()
  }

  test("sf1000-vecs (20M): hyperplane grid prices the fourth decade") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf1000"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    // PREDICTION row: the sweep (the engine's own exact cost model —
    // its bound on executed load is pinned MEASURED by the sf10/sf100
    // rows above) priced over the full derived-plus-extension grid at
    // 20M vectors. Asserts the ceiling keeps growing with N and the
    // adjudication is explicit either way: a fitting selection below
    // the cap, or a committed proof that the cap itself is over
    // budget on this corpus. Execution at this decade goes through
    // the same BandedLsh guard the sf100 row executes.
    import graft.functions.VecFns
    import graft.operators.EmbedNearDup
    graft.functions.expressions.GraftFunctions.register(spark)
    val (bands, dim) = (4, 64)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
      .persist()
    val n = vecs.count()
    val derived = EmbedNearDup.planeGridFor(n, bands, Budget)
    val sf100ceiling = EmbedNearDup.planeGridFor(2000000L, bands, Budget).max
    info(s"n_vec=$n planeGridFor -> $derived (sf100 ceiling $sf100ceiling)")
    assert(derived.max >= sf100ceiling,
      s"the derived ceiling must not shrink across the decade")
    // price the derived grid plus every remaining rung to the cap in
    // one sweep — the full extend-on-overshoot search space
    val grid = (derived ++
      Seq(derived.max + 2, derived.max + 4, EmbedNearDup.PlaneCap))
      .distinct.filter(_ <= EmbedNearDup.PlaneCap).sorted
    val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
        EmbedNearDup.family(vecs, "vec_id", bands, dim), grid)).collect()
    for (r <- stats.sortBy(_.getAs[Int]("cfg")))
      info(s"p=${r.getAs[Int]("cfg")}: " +
        s"cand_pairs=${r.getAs[Long]("cand_pairs")} budget=${Budget * n}")
    val fitting = stats.filter(r =>
      r.getAs[Long]("cand_pairs") <= r.getAs[Long]("n_docs") * Budget)
      .map(_.getAs[Int]("cfg"))
    if (fitting.nonEmpty)
      info(s"FITTING selection p=${fitting.min} at the fourth decade")
    else {
      val capLoad = stats.find(_.getAs[Int]("cfg") == EmbedNearDup.PlaneCap)
        .map(_.getAs[Long]("cand_pairs"))
      info(s"committed proof: cap p=${EmbedNearDup.PlaneCap} predicts " +
        s"$capLoad > ${Budget * n} on this corpus — guarded fallback routes")
      assert(capLoad.isDefined, "the sweep must price the cap itself")
    }
    vecs.unpersist()
    spark.catalog.clearCache()
  }

  test("sf10-vecs (200k): hyperplane grid ceiling scales; selection fits again") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf10"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    // q187 is the fastest-growing production family (6.2x/decade at
    // round 15): hyperplane collision RATE is scale-invariant, so the
    // fixed 8-plane ceiling eventually prices every config over the
    // budget and the guarded fallback executes. planeGridFor grows the
    // ceiling ~log2(N) — this row pins that at 200k vectors the fixed
    // grid's selection is adjudicated (fitting or fallback, measured),
    // the derived grid extends past 8, and its selection's MEASURED
    // load obeys the prediction (and the budget when a config fits).
    import graft.functions.VecFns
    import graft.operators.EmbedNearDup
    graft.functions.expressions.GraftFunctions.register(spark)
    val (bands, dim) = (4, 64)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
      .persist()
    val n = vecs.count()
    def audit(label: String, grid: Seq[Int]): (Int, Long, Boolean) = {
      val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
        EmbedNearDup.family(vecs, "vec_id", bands, dim), grid)).collect()
      for (r <- stats.sortBy(_.getAs[Int]("cfg")))
        info(s"$label p=${r.getAs[Int]("cfg")}: " +
          s"cand_pairs=${r.getAs[Long]("cand_pairs")} budget=${Budget * n}")
      val fitting = stats.filter(r =>
        r.getAs[Long]("cand_pairs") <= r.getAs[Long]("n_docs") * Budget)
        .map(_.getAs[Int]("cfg"))
      val selected = if (fitting.nonEmpty) fitting.min else grid.max
      val predicted = stats.find(_.getAs[Int]("cfg") == selected).get
        .getAs[Long]("cand_pairs")
      info(s"$label: n_vec=$n selected=$selected planes " +
        s"(${if (fitting.nonEmpty) "FITTING" else "FALLBACK"}), " +
        s"predicted<=$predicted")
      (selected, predicted, fitting.nonEmpty)
    }
    val fixedGrid = Seq(2, 4, 6, 8)
    val (selFixed, predFixed, fitsFixed) = audit("fixed-grid", fixedGrid)
    val derived = EmbedNearDup.planeGridFor(n, bands, Budget)
    assert(derived.max > fixedGrid.max,
      s"planeGridFor($n) must extend past the fixed 8-plane ceiling," +
        s" got $derived")
    val (selDerived, predDerived, fitsDerived) = audit("derived-grid", derived)
    // the bend: the derived grid's selection never predicts more load
    // than the fixed grid's executed config
    assert(predDerived <= predFixed,
      s"derived selection $selDerived predicts $predDerived >" +
        s" fixed $selFixed's $predFixed")
    // execute the derived selection and check prediction + budget
    // (minCos = -1 keeps every verified candidate, so the count IS the
    // distinct candidate load the sweep predicted with multiplicity)
    val (pairs, release) = EmbedNearDup.bandedPairsWithCleanup(
      vecs, "vec_id", bands, selDerived, dim, minCos = -1.0)
    val measured = pairs.count()
    release()
    info(s"derived-grid executed: measured=$measured distinct candidates" +
      s" (predicted<=$predDerived, budget=${Budget * n})")
    assert(measured <= predDerived,
      s"banded join emitted $measured pairs, sweep predicted <=$predDerived")
    if (fitsDerived)
      assert(measured <= Budget * n,
        s"selected config $selDerived broke its own budget:" +
          s" $measured > ${Budget * n}")
    vecs.unpersist()
    spark.catalog.clearCache()
    // note for the ARCHITECTURE calibration table: fixed grid fitting=
    // (see info above); at 2k vectors (sf0.1) planeGridFor returns the
    // fixed grid itself, so harness-scale behavior is unchanged
    assert(EmbedNearDup.planeGridFor(2000, bands, Budget) == fixedGrid)
    assert(!fitsFixed || fitsDerived,
      "a selection fitting the fixed grid must still fit the superset grid")
  }

  /** SimHash64 fingerprints at a decade dir — the q191 construction
    * (trigram shingles, hash assembled once per shingle row, dedup on
    * the 8-byte hash BEFORE the shuffle, 64-sum aggregate).
    */
  private def sigs64At(dir: String) = {
    import graft.functions.SimHash64
    // one-pass map-only fingerprints (the q191 production path since
    // round 18, parity pinned by SimHashOnePassSpec): at 50 M docs
    // the declarative distinct→group chain retained two corpus-wide
    // shuffles (~1.45 B shingle rows) that exceeded this box's disk
    // no repartition: the decade dirs are multi-file parquet, and the
    // whole point of the one-pass path is a map-only stage
    SimHash64.fingerprintsFromTokens(
      spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("t", TextFns.tokens(col("text"))),
      "doc_id", "t", 3)
  }

  /** The SimHash64 fitting-selection audit at a decade dir: the grid
    * must hold a fitting width, the fused selection must be the
    * narrowest fitting one, and its EXECUTED load must respect the
    * budget.
    */
  private def audit64At(dir: String): Unit = {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    import graft.functions.SimHash64
    val sigs = sigs64At(dir).persist()
    val stats = graft.functions.BandedLsh.sweep(graft.functions.BandedLsh.occupancy(
      SimHash64.family(sigs, "doc_id", "sh"), SimHash64.DefaultWidthGrid)).collect()
    // the stats frame is collected — its sweep shuffle is dead; free
    // it before calibratedPairs runs its own sweep + band join (the
    // two sweeps coexisting was half the round-17 disk post-mortem)
    val retainedPeak = graft.operators.ShuffleHygiene.retainedShuffleBytes(spark)
    graft.operators.ShuffleHygiene.reclaim(spark)
    info(s"retained shuffle bytes: $retainedPeak after sweep, " +
      s"${graft.operators.ShuffleHygiene.retainedShuffleBytes(spark)}" +
      " after reclaim")
    for (r <- stats.sortBy(_.getAs[Int]("cfg")))
      info(s"w=${r.getAs[Int]("cfg")}: cand_pairs=${r.getAs[Long]("cand_pairs")}" +
        s" budget=${Budget * r.getAs[Long]("n_docs")}")
    val fitting = stats.filter(r => r.getAs[Long]("cand_pairs") <=
      r.getAs[Long]("n_docs") * Budget).map(_.getAs[Int]("cfg"))
    assert(fitting.nonEmpty,
      s"the 64-bit grid must hold a fitting width at $dir")
    val (selected, pairs, release) = SimHash64.calibratedPairsWithCleanup(
      sigs, "doc_id", "sh", pairsPerDocBudget = Budget)
    assert(fitting.contains(selected) && selected == fitting.min,
      s"fused selection $selected != narrowest fitting ${fitting.min}")
    val measured = pairs.count()
    release()
    val nDocs = stats.head.getAs[Long]("n_docs")
    info(s"$dir: selected=$selected (FITTING), measured=$measured" +
      s" (budget=${Budget * nDocs})")
    assert(measured <= Budget * nDocs,
      s"selected width $selected broke its own budget")
    sigs.unpersist()
    spark.catalog.clearCache()
  }

  test("sf100-docs (5M): 64-bit SimHash restores a FITTING width selection") {
    // VERDICT r16 #1 done-criterion: where the 16-bit family priced
    // out every width at 5M docs (the keyspace ceiling), the 64-bit
    // grid must contain a FITTING width — and the fused path's
    // selection must execute within its own budget, measured.
    audit64At("bench/sfgen/sf100")
  }

  test("sf1000-docs (50M): MinHash audit at numeric band keys") {
    // FOURTH docs decade. Round 17's two attempts died at the sweep's
    // occupancy shuffle (SPILL_OUT_OF_MEMORY / no space left): 50M
    // docs x 15 band-rows keyed by 32-hex md5 STRINGS was a ~40+ GB
    // sort spill. Round 18 removed both named causes: band keys are
    // 60-bit LONGS (the ~4x byte cut, BandKeyShuffleAbSpec measures
    // it) and the sweep is scoped + reclaimed (ShuffleHygiene) so its
    // shuffle files free before the band join adds its own. Still
    // volume-gated — ~30+ min of md5 work and tens of GB of transient
    // disk is not a default-suite cost. NOTE: the shared auditAt
    // helper also requires GRAFT_PERF=1 — set BOTH flags.
    assume(sys.env.contains("GRAFT_SF1000_MINHASH"),
      "set GRAFT_SF1000_MINHASH=1 AND GRAFT_PERF=1 to run the full " +
        "fourth-decade audit (long; needs tens of GB free disk)")
    auditAt("bench/sfgen/sf1000")
  }

  test("sf1000-docs (50M): 64-bit SimHash audit at one-pass fingerprints") {
    // the keyspace-headroom claim behind SimHash64 one decade past
    // its introduction. Round 17's attempt died on retained shuffle:
    // ~1.45 B shingle rows through distinct -> doc-group -> sweep,
    // all held until JVM exit. Round 18 removed the chain itself —
    // fingerprintsFromTokens computes the per-doc dedup + majority
    // vote locally (map-only, zero shuffle until the sweep;
    // SimHashOnePassSpec pins bit-parity) — and the audit reclaims
    // the sweep's shuffle before the band join. NOTE: the shared
    // audit64At helper also requires GRAFT_PERF=1 — set BOTH flags.
    assume(sys.env.contains("GRAFT_SF1000_SIMHASH"),
      "set GRAFT_SF1000_SIMHASH=1 AND GRAFT_PERF=1 to run the full " +
        "fourth-decade audit (long; needs tens of GB free disk)")
    audit64At("bench/sfgen/sf1000")
  }

  test("sf1-docs (50k): 64-bit calibrated pairs recall 1.0 vs sampled hamming-3 truth") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf1"
    assume(new java.io.File(s"$dir/documents.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    // Recall audit against ground truth that does NOT share the banded
    // construction: every sampled doc's fingerprint is compared against
    // ALL fingerprints exactly (broadcast ~1.1k x 50k hamming evals),
    // and every truth pair within hamming 3 must appear in the
    // calibrated output. The sample includes ScaleGen's exact-copy ids
    // (id%500==7 — trigram-shingle fingerprints put the near-copies at
    // hamming 4-20, so the <=3 truth IS the exact-copy set; measured 99
    // pairs) plus an arbitrary stratum (id%50==0) for non-dup coverage.
    // At 50k docs the selection is w=16 — 4 bands, structurally
    // complete for hamming<=3 by pigeonhole — so recall is exactly 1.0
    // unless the selection, the band join, or the guard drops a pair.
    import graft.functions.SimHash64
    val sigs = sigs64At(dir).persist()
    val (selected, pairs, release) = SimHash64.calibratedPairsWithCleanup(
      sigs, "doc_id", "sh", pairsPerDocBudget = Budget)
    info(s"selected width=$selected")
    assert(selected == 16, s"50k docs must select the hamming-3-complete" +
      s" w=16 rung, got $selected")
    val found = pairs
      .filter(SimHash64.hamming(col("sa"), col("sb")) <= 3)
      .select("a", "b").persist()
    val foundN = found.count()
    val sample = sigs
      .filter(col("doc_id") % 50 === 0 || col("doc_id") % 500 === 7)
      .select(col("doc_id").as("sid"), col("sh").as("ssh"))
    val truth = sigs.join(broadcast(sample), col("doc_id") =!= col("sid"))
      .filter(SimHash64.hamming(col("sh"), col("ssh")) <= 3)
      .select(least(col("doc_id"), col("sid")).as("a"),
        greatest(col("doc_id"), col("sid")).as("b"))
      .distinct().persist()
    val truthN = truth.count()
    val missed = truth.except(found).count()
    info(s"truth pairs=$truthN, calibrated found (sample-touching or not)=" +
      s"$foundN, missed=$missed")
    assert(truthN > 0, "sampled ground truth found no hamming-3 pairs — " +
      "the dup sprinkle should produce some; audit is vacuous")
    assert(missed == 0, s"recall < 1.0: $missed of $truthN truth pairs missing")
    found.unpersist(); truth.unpersist(); sigs.unpersist()
    spark.catalog.clearCache()
  }
}
