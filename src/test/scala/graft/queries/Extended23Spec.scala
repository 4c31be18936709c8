package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import graft.{Tables, TestSpark}
import graft.corpus.Curation
import graft.functions.{BandedLsh, LshGuard, MinHashLsh, SimHash, TextFns, VecFns}
import graft.operators.EmbedNearDup

/** Pins the calibration→execution loop: the config q186 executes is
  * the one the q185 calibration selects, and the executed dedup is
  * the fixed-config dedup at that selection.
  */
class Extended23Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  /** The sweep-only selection over an adapter's family (no fusion). */
  private def sweepSelect(fam: BandedLsh.Family, grid: Seq[Int],
      budget: Long): Int =
    BandedLsh.select(BandedLsh.occupancy(fam, grid), fam, grid, budget)._1

  private def simhashSigs(df: DataFrame) = df
    .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    .distinct()
    .groupBy("doc_id").agg(SimHash.simhashAgg(col("tok")).as("sh"))

  test("q186 executes exactly the band config q185 selects") {
    val sel185 = Registry.all("q185_minhash_calibration").impl(spark, dir)
      .filter(col("selected") === 1L)
      .select("bands").as[Long].collect()
    assert(sel185.length === 1)
    val bands186 = Registry.all("q186_calibrated_neardup").impl(spark, dir)
      .select("bands").distinct().as[Long].collect()
    assert(bands186.toSeq === Seq(sel185.head))
  }

  test("q187 executes exactly the plane config q184 selects") {
    val sel184 = Registry.all("q184_band_calibration").impl(spark, dir)
      .filter(col("selected") === 1L)
      .select("planes_per_band").as[Long].collect()
    assert(sel184.length === 1)
    val planes187 = Registry.all("q187_calibrated_embed_neardup")
      .impl(spark, dir)
      .select("planes").distinct().as[Long].collect()
    assert(planes187.toSeq === Seq(sel184.head))
    spark.catalog.clearCache()
  }

  test("degenerate corpus: calibration fallback + hot-bucket guard compose") {
    // 3000 identical docs: every (band, key) bucket of every config
    // holds the whole corpus, so no config fits the budget → the
    // calibration falls back to the fewest-bands config, and the
    // executed join's BandedLsh guard chain-links the degenerate bucket
    // (est = 1.0 runs) instead of building O(m²) pairs — the dedup
    // must still collapse the corpus to exactly one survivor
    val docs = spark.range(3000)
      .selectExpr("id AS doc_id",
        "'alpha beta gamma delta epsilon zeta' AS text")
      .transform(Curation.withTokens())
    val (bands, kept) =
      Curation.calibratedNearDup(pairsPerDocBudget = 5L)(docs)
    assert(bands === 2, "no config fits — expected the fewest-bands fallback")
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(0L))
    spark.catalog.clearCache()
  }

  test("degenerate corpus: SimHash fallback executes guard-bounded") {
    // 3000 identical docs: one fingerprint, so EVERY band key of every
    // width holds the whole corpus — no width fits, the fallback
    // (widest) is selected, and the executed join must chain-link the
    // degenerate buckets (m−1 pairs per band, deduped across bands)
    // instead of building m(m−1)/2 — the unguarded q189 join filled
    // 80 GB of shuffle scratch on a fingerprint-concentrated 500 k-doc
    // corpus before the SimHash band join carried the hot-bucket cap
    val sigs = simhashSigs(spark.range(3000)
      .selectExpr("id AS doc_id",
        "'alpha beta gamma delta epsilon zeta' AS text"))
    val fam = SimHash.family(sigs, "doc_id", "sh")
    val w = sweepSelect(fam, SimHash.DefaultWidthGrid, 5L)
    assert(w === SimHash.DefaultWidthGrid.max,
      "no config fits — expected the widest fallback")
    val pairs = BandedLsh.execute(fam, w, None, LshGuard.DefaultMaxBucket)
      ._1.collect()
    // chain pairs: every band links (i, i+1) in id order, so the
    // distinct union across bands is exactly the 2999 adjacent pairs
    assert(pairs.length === 2999)
    assert(pairs.forall(r => r.getAs[Long]("sa") === r.getAs[Long]("sb")),
      "identical-fingerprint chain links must be hamming-0")
    spark.catalog.clearCache()
  }

  test("SimHash candidatePairs below the cap == the raw band join") {
    val sigs = simhashSigs(Tables.docsParallel(spark, dir)).persist()
    val fam = SimHash.family(sigs, "doc_id", "sh")
    val w = sweepSelect(fam, SimHash.DefaultWidthGrid, 20L)
    val guarded = BandedLsh.execute(fam, w, None, LshGuard.DefaultMaxBucket)
      ._1.select("a", "b").as[(Long, Long)].collect().toSet
    val banded = SimHash.bandKeys(sigs, "sh", w)
      .select(col("doc_id"), col("sh"), col("band"), col("key"))
    val raw = banded.toDF("a", "sa", "band", "key")
      .join(banded.toDF("b", "sb", "band", "key"), Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(guarded === raw,
      "with no bucket over the cap the guarded plan must equal the raw join")
    spark.catalog.clearCache()
  }

  /** One family adapter under the fused-vs-probe parity check: its
    * family over an input, a gate-scale input and a 3000-copy
    * degenerate one (both persisted), its grid, its fused calibration
    * and degenerate fallback, the step from candidate pairs to its
    * output, and the mark of a content-identical chain link there.
    */
  private case class Parity(family: DataFrame => BandedLsh.Family,
      real: () => DataFrame, degen: () => DataFrame, grid: Seq[Int],
      fused: (BandedLsh.Family, Seq[Int], Long) => (Int, BandedLsh.Hot),
      degenFallback: Int, finish: DataFrame => DataFrame,
      identical: Row => Boolean)

  private def coreFused(fam: BandedLsh.Family, grid: Seq[Int], budget: Long) =
    BandedLsh.calibrate(fam, grid, budget, LshGuard.DefaultMaxBucket)

  private def degenDocs = spark.range(3000).selectExpr("id AS doc_id",
    "'alpha beta gamma delta epsilon zeta' AS text")

  private def quantized(df: DataFrame) = df
    .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
    .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
    .persist()

  private val parities: Seq[(String, Parity)] = Seq(
    "MinHash" -> {
      def sigsOf(df: DataFrame) = MinHashLsh
        .signaturesFromTokens(df.withColumn("__t", TextFns.tokens(col("text"))),
          "doc_id", "__t", 3, 12)
        .persist()
      val grid = Seq(2, 3, 4, 6)
      Parity(MinHashLsh.family(_, "doc_id", 12),
        () => sigsOf(Tables.docsParallel(spark, dir)), () => sigsOf(degenDocs),
        grid, coreFused, grid.min, identity, _.getAs[Double]("est") == 1.0)
    },
    "SimHash" -> {
      Parity(SimHash.family(_, "doc_id", "sh"),
        () => simhashSigs(Tables.docsParallel(spark, dir)).persist(),
        () => simhashSigs(degenDocs).persist(),
        SimHash.DefaultWidthGrid, coreFused, SimHash.DefaultWidthGrid.max,
        identity, r => r.getAs[Long]("sa") == r.getAs[Long]("sb"))
    },
    "hyperplane" -> {
      // the gate-scale row also pins the sweep's mask-derived keys ==
      // the executed join's banded keys: a mismatched key construction
      // would desync hot-cell discovery
      Parity(EmbedNearDup.family(_, "vec_id", 4, 64),
        () => quantized(spark.read.parquet(s"$dir/embeddings.parquet")),
        () => quantized(spark.range(3000).selectExpr("id AS vec_id",
          "transform(sequence(1, 64), x -> CAST(0.125 AS DOUBLE)) AS embedding")),
        Seq(2, 4, 6, 8),
        EmbedNearDup.calibratePlanesFused(_, _, _, LshGuard.DefaultMaxBucket),
        EmbedNearDup.PlaneCap, EmbedNearDup.verify(_, 0.4),
        _.getAs[Double]("cos_r") == 1.0)
    })

  for ((name, p) <- parities)
    test(s"fused == sweep-only selection + probe, both regimes: $name") {
      graft.functions.expressions.GraftFunctions.register(spark)
      def rows(fam: BandedLsh.Family, cfg: Int, hot: BandedLsh.Hot) = {
        val (pairs, release) =
          BandedLsh.execute(fam, cfg, hot, LshGuard.DefaultMaxBucket)
        try p.finish(pairs).collect().toSet finally release()
      }
      // sub-cap regime (the oracle-equality regime the gate runs in):
      // fused selection == the sweep-only one, hot set exactly known
      // and empty, and the executed rows match the probing path's
      val fam = p.family(p.real())
      val sel = sweepSelect(fam, p.grid, 20L)
      val (selF, hotOpt) = p.fused(fam, p.grid, 20L)
      assert(selF === sel, "fused selection must equal the sweep-only one")
      val hot = hotOpt.getOrElse(fail("hot set should be exactly known"))
      assert(hot._1.isEmpty, "gate-scale input has no over-cap bucket")
      assert(rows(fam, selF, hotOpt) === rows(fam, sel, None))
      // hot regime: identical content puts the whole input behind one
      // key per band — the known-occupancy split must chain-link
      // exactly like the probe path (m−1 pairs, deduped across bands)
      val famD = p.family(p.degen())
      val (selD, hotD) = p.fused(famD, p.grid, 5L)
      assert(selD === p.degenFallback, "nothing fits — expected the fallback")
      val hd = hotD.getOrElse(fail("degenerate hot set is tiny and known"))
      assert(hd._1.nonEmpty, "every bucket of the fallback config is hot")
      val known = rows(famD, selD, hotD)
      assert(known === rows(famD, selD, None))
      assert(known.size === 2999, "identical-content chain links, deduped")
      assert(known.forall(p.identical), "chain links must be content-identical")
      spark.catalog.clearCache()
    }

  test("fused calibration: fewer jobs (SimHash), less shuffle (MinHash, hyperplane)") {
    // the fused path's claims, asserted comparatively per family (not
    // absolutely, so AQE job-splitting can't flake them): all three
    // families persist the sweep's occupancy and trade the probe's
    // corpus-wide groupBy SHUFFLE for a cached-scan hot filter —
    //  - SimHash: with no hot bucket the fused join also skips the
    //    banded persist, so strictly fewer jobs;
    //  - MinHash/hyperplane: shuffle-write volume must not grow.
    graft.functions.expressions.GraftFunctions.register(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleRecs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleRecs.addAndGet(
          s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // listener delivery is async: settle = poll until the counters are
    // quiet for 300 ms (the public API has no bus-flush hook). Bounded
    // at 100 iterations (~30 s) so concurrent stray job activity (a
    // straggling async cleanup) can't extend the loop indefinitely —
    // a counter still moving after the bound is itself a failure.
    def settle(): (Int, Long) = {
      var last = (-1, -1L); var cur = (jobs.get(), shuffleRecs.get())
      var iters = 0
      while (cur != last) {
        iters += 1
        assert(iters <= 100, "listener counters never settled — " +
          "concurrent job activity is polluting the measured region")
        last = cur; Thread.sleep(300); cur = (jobs.get(), shuffleRecs.get())
      }
      cur
    }
    def measure(body: => Unit): (Int, Long) = {
      val (j0, s0) = settle(); body; val (j1, s1) = settle()
      (j1 - j0, s1 - s0)
    }
    try {
      // SimHash: fewer jobs
      val sigs = simhashSigs(Tables.docsParallel(spark, dir)).persist()
      sigs.count() // materialize outside both measured regions
      val (shProbeJobs, _) = measure {
        val fam = SimHash.family(sigs, "doc_id", "sh")
        val w = sweepSelect(fam, SimHash.DefaultWidthGrid, 20L)
        BandedLsh.execute(fam, w, None, LshGuard.DefaultMaxBucket)
          ._1.count(): Unit
      }
      val (shFusedJobs, _) = measure {
        SimHash.calibratedPairs(sigs, "doc_id", "sh")._2.count(): Unit
      }
      assert(shFusedJobs < shProbeJobs,
        s"SimHash fused must run fewer jobs ($shFusedJobs vs $shProbeJobs)")
      spark.catalog.clearCache()

      // MinHash: strictly less shuffle-write volume
      val mh = MinHashLsh.signaturesFromTokens(
        Tables.docsParallel(spark, dir)
          .withColumn("__t", TextFns.tokens(col("text"))),
        "doc_id", "__t", 3, 12).persist()
      mh.count()
      val (_, mhProbeShuffle) = measure {
        val b = MinHashLsh.calibrateBands(mh, "doc_id", 12, Seq(2, 3, 4, 6), 20L)
        MinHashLsh.candidatePairs(mh, "doc_id", 12, b).count(): Unit
      }
      val (_, mhFusedShuffle) = measure {
        BandedLsh.calibratedPairs(MinHashLsh.family(mh, "doc_id", 12),
          Seq(2, 3, 4, 6), 20L, LshGuard.DefaultMaxBucket)._2.count(): Unit
      }
      // <= not <: the dropped shuffle is the probe's occupancy groupBy,
      // which could in principle shrink to the fused plan's volume on a
      // degenerate corpus — only the SimHash job-count claim is strict
      // by construction (one collect replaces two)
      assert(mhFusedShuffle <= mhProbeShuffle,
        s"MinHash fused must not shuffle more records" +
          s" ($mhFusedShuffle vs $mhProbeShuffle)")
      spark.catalog.clearCache()

      // hyperplane: strictly less shuffle-write volume
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
        .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
        .persist()
      vecs.count()
      val grid = Seq(2, 4, 6, 8)
      val (_, hpProbeShuffle) = measure {
        val p = sweepSelect(EmbedNearDup.family(vecs, "vec_id", 4, 64), grid, 20L)
        EmbedNearDup.bandedPairs(vecs, "vec_id", 4, p, 64, 0.4).count(): Unit
      }
      val (_, hpFusedShuffle) = measure {
        EmbedNearDup.calibratedPairs(vecs, "vec_id", 4, grid, 64, 0.4)
          ._2.count(): Unit
      }
      assert(hpFusedShuffle <= hpProbeShuffle,
        s"hyperplane fused must not shuffle more records" +
          s" ($hpFusedShuffle vs $hpProbeShuffle)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
  }

  test("calibratedNearDup == nearDupFilter at the selected config") {
    val docs = Tables.docsParallel(spark, dir).transform(Curation.withTokens())
    val (b, kept) = Curation.calibratedNearDup()(docs)
    val fixed = Curation.nearDupFilter(bands = b)(docs)
    assert(kept.select("doc_id").as[Long].collect().toSet ===
      fixed.select("doc_id").as[Long].collect().toSet)
    spark.catalog.clearCache()
  }
}
