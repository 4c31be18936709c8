package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.{LshGuard, MinHashLsh, TextFns, VecFns}

/** Adversarial-corpus proof of the LSH hot-bucket guard.
  *
  * The threat: a degenerate band key shared by m documents (empty
  * docs, boilerplate, zero embeddings) makes the band self-join emit
  * m(m−1)/2 pairs from ONE bucket — at 100 TB, m in the millions turns
  * that into ~10¹² rows AQE cannot split away (skew splitting
  * re-balances partitions, not a single key's pair count). The guard
  * must (a) bound the degenerate bucket to O(m) pairs, (b) keep the
  * bucket one connected component so dedup clustering is unchanged,
  * and (c) leave every non-degenerate pair exactly as before.
  */
class LshGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val K = 12
  private val Bands = 4

  /** Signature frame: every id in `ids` gets the constant signature
    * `base`, so all of them share every band key.
    */
  private def constSigs(ids: Range, base: Long) =
    ids.map(i => (i.toLong, Array.fill(K)(base))).toDF("doc_id", "s")
      .select(col("doc_id") +:
        (0 until K).map(i => col("s")(i).as(s"s$i")): _*)

  test("degenerate bucket is chain-linked: O(m) pairs, still one component, cold pairs untouched") {
    // the instrument-accumulator assertions below double-count if a
    // cached banded frame is EVICTED and recomputed mid-test — drain
    // the session's accumulated caches (earlier suites' persisted
    // frames + pair-wrapper leases) so memory pressure can't flake
    // this suite
    graft.functions.PersistLeases.releaseAll()
    spark.catalog.clearCache()
    // 100 identical docs (ids 1000-1099) — one hot bucket per band
    val hot = constSigs(1000 until 1100, 7L)
    // small genuine clusters, all below the cap: {1,2} and {3,4,5}
    val cold = constSigs(1 to 2, 11L).union(constSigs(3 to 5, 13L))
    // singletons with distinct signatures — must produce no pairs
    val solo = (10 until 20)
      .map(i => (i.toLong, Array.tabulate(K)(j => 1000L * i + j)))
      .toDF("doc_id", "s")
      .select(col("doc_id") +:
        (0 until K).map(i => col("s")(i).as(s"s$i")): _*)
    val sigs = hot.union(cold).union(solo)

    val pairs = MinHashLsh
      .candidatePairs(sigs, "doc_id", K, Bands, maxBucket = 10)
      .orderBy("a", "b")
      .as[(Long, Long, Double)].collect()

    val hotPairs = pairs.filter(_._1 >= 1000L)
    val coldPairs = pairs.filter(_._1 < 1000L)

    // (a) bounded: m−1 = 99 chained pairs, not m(m−1)/2 = 4950
    assert(hotPairs.length === 99,
      s"expected 99 chained pairs, got ${hotPairs.length}")
    assert(hotPairs.toSeq === (1000L until 1099L).map(i => (i, i + 1, 1.0)),
      "chain must link ascending-id neighbors with est=1.0")

    // (c) non-degenerate pairs are exactly the unguarded all-pairs set
    assert(coldPairs.toSeq === Seq(
      (1L, 2L, 1.0), (3L, 4L, 1.0), (3L, 5L, 1.0), (4L, 5L, 1.0)))

    // metric, read after exactly ONE action on the guarded plan: one
    // hot bucket per band; suppressed = 4950 − 99 per band (Spark
    // accumulators re-count if the plan is executed again)
    val m = graft.functions.BandedLsh.lastMetrics.get
    assert(m.hotBuckets.value === Bands.toLong)
    assert(m.suppressedPairs.value === Bands.toLong * (4950L - 99L))

    // (b) connectivity: the whole degenerate cluster is one component
    val comp = Components
      .connectedComponents(
        MinHashLsh.candidatePairs(sigs, "doc_id", K, Bands, maxBucket = 10),
        "a", "b")
      .filter(col("node") >= 1000)
      .select("component").distinct().count()
    assert(comp === 1L, "degenerate cluster split into >1 component")
  }

  test("guard at default threshold is a no-op on a realistic corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .withColumn("t", TextFns.tokens(col("text")))
    val sigs = MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, K)
      .persist()
    def pairSet(maxBucket: Int) = MinHashLsh
      .candidatePairs(sigs, "doc_id", K, Bands, maxBucket)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairSet(LshGuard.DefaultMaxBucket) === pairSet(Int.MaxValue),
      "default-threshold guard changed pairs on a non-degenerate corpus")
    sigs.unpersist()
  }

  test("adversarial scale: 20k identical docs stay O(m) at the default threshold") {
    val sigs = constSigs(0 until 20000, 42L)
    val n = MinHashLsh.candidatePairs(sigs, "doc_id", K, Bands).count()
    assert(n === 19999L, s"expected 19999 chained pairs, got $n")
  }

  test("mixed hot bucket chains in (signature, id) runs: est exact, identical runs survive an est filter") {
    // 8 docs share band 0 (s0..s2 identical) but differ elsewhere in a
    // known pattern: even ids share s3..s11 = id-independent constants,
    // odd ids get distinct values. With maxBucket=3 the band-0 bucket
    // (8 docs) chains IN (signature, id) ORDER — evens (identical
    // signatures, the smaller s3..s11 values) first as one contiguous
    // run, then the odds ascending — so the signature-identical run
    // chains at est = 1.0 and survives any downstream est filter,
    // while only cross-run links (genuinely dissimilar docs) carry the
    // lower exact est. est must still be the full k-component
    // comparison of the two NEIGHBORS' signatures, not a placeholder.
    val rows = (0 until 8).map { i =>
      val sig = Array.tabulate(K) { j =>
        if (j < 3) 5L                       // shared band 0
        else if (i % 2 == 0) 100L + j       // evens agree pairwise
        else 1000L * i + j                  // odds unique
      }
      (i.toLong, sig)
    }
    val sigs = rows.toDF("doc_id", "s")
      .select(col("doc_id") +: (0 until K).map(i => col("s")(i).as(s"s$i")): _*)
    val guarded = MinHashLsh
      .candidatePairs(sigs, "doc_id", K, Bands, maxBucket = 3)
    val pairs = guarded
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap

    // band 0 (all 8 docs, over the cap) sorted by (signature, id):
    // 0,2,4,6 (identical sigs, id tiebreak) then 1,3,5,7 (by s3).
    // Even-run links chain at est = 1.0; the run boundary 6-1 and the
    // odd-odd links share exactly the 3 band-0 components → est = 3/k.
    // Bands 1-3 hold an evens-only bucket of 4 (over the cap too)
    // chaining the same 0-2, 2-4, 4-6 at est = 1.0 (distinct() folds
    // them with band 0's).
    val evenRun = Set((0L, 2L), (2L, 4L), (4L, 6L))
    val crossRun = Set((1L, 6L), (1L, 3L), (3L, 5L), (5L, 7L))
    assert(pairs.keySet === evenRun ++ crossRun)
    val estQuarter = math.round(3.0 / K * 10000) / 10000.0
    assert(crossRun.forall(p => pairs(p) == estQuarter),
      s"cross-run chained est must be 3/$K, got ${crossRun.map(pairs)}")
    assert(evenRun.forall(p => pairs(p) == 1.0),
      "identical-signature chained est must be 1.0")

    // the consumer-facing guarantee: after the est >= 0.5 filter every
    // dedup path applies, the signature-identical docs {0,2,4,6} are
    // STILL one connected component — identical clusters to the
    // unguarded all-pairs join post-filter
    val comps = Components.connectedComponents(
        guarded.filter(col("est") >= 0.5), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps.keySet === Set(0L, 2L, 4L, 6L),
      "est filter must keep exactly the signature-identical run")
    assert(comps.values.toSet.size === 1,
      "signature-identical run split by the est filter")
  }

  test("recall-audit neutrality: forcing the guard low changes ONLY the degenerate bucket") {
    // Corpus: one degenerate cluster (30 byte-identical docs → exact
    // Jaccard 1.0, bucket 10) plus disjoint two-doc near-dup pairs in
    // lower deciles and unrelated singletons. With maxBucket = 2 the
    // identical cluster's band buckets (30 occupants) go hot and
    // chain-link, while every two-doc bucket stays at or under the
    // threshold — so per-decile recall must change in bucket 10 and
    // NOWHERE else, pinning the guarantee at the recall level (not
    // just the pair-set level LshGuardSpec asserts above).
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val dup = (1000 until 1030).map(i => (i.toLong, boiler))
    // per-pair private vocab so pairs never share shingles; the second
    // doc drops trailing tokens to land J in mid deciles
    val pairs = (0 until 6).flatMap { p =>
      val toks = (0 until 12).map(j => s"w${p}_$j")
      Seq(((2000 + 2 * p).toLong, toks.mkString(" ")),
        ((2001 + 2 * p).toLong, toks.dropRight(1 + p % 3).mkString(" ")))
    }
    val solo = (3000 until 3010).map(i =>
      (i.toLong, (0 until 12).map(j => s"u${i}_$j").mkString(" ")))
    val docs = (dup ++ pairs ++ solo).toDF("doc_id", "text")

    def audit(maxBucket: Int) = graft.corpus.Curation
      .recallAudit(shingleWidth = 3, jMin = 0.3, k = K, bands = Bands,
        maxBucket = maxBucket)(docs)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)

    val unguarded = audit(Int.MaxValue)
    val guarded = audit(2)

    // the degenerate decile: all C(30,2) exact pairs, found drops to
    // the m−1 chain links (signature-identical → chains survive)
    val un10 = unguarded.find(_._1 == 10L).get
    val g10 = guarded.find(_._1 == 10L).get
    assert(un10 === ((10L, 435L, 435L)),
      s"unguarded degenerate decile off: $un10")
    assert(g10 === ((10L, 435L, 29L)),
      s"guarded degenerate decile must chain to m−1 found: $g10")

    // every other decile identical between the two runs
    assert(unguarded.filterNot(_._1 == 10L) === guarded.filterNot(_._1 == 10L),
      "guard leaked into a non-degenerate decile")
    // and the audit actually exercised lower deciles
    assert(unguarded.exists(r => r._1 < 10L && r._2 > 0L),
      "fixture produced no mid-decile ground-truth pairs")
  }

  test("index-probe cap: degenerate index bucket bounded, non-degenerate lookups exact") {
    // index: 100 identical docs (one degenerate bucket per band) plus
    // two normal docs; probe: one doc colliding with the degenerate
    // bucket, one colliding with the normal docs
    val idxSigs = constSigs(1000 until 1100, 7L).union(constSigs(1 to 2, 11L))
    val banded = MinHashLsh.bandKeys(idxSigs, "doc_id", K, Bands)
    val capped = graft.functions.LshGuard.capBuckets(banded, "doc_id", maxBucket = 10)

    // per (band, key): at most 10 rows, ascending-id prefix kept
    val byBucket = capped.groupBy("band", "key")
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"))
      .as[(Int, String, Long, Long)].collect()
    assert(byBucket.forall(_._3 <= 10), "a bucket exceeds the cap")
    assert(byBucket.filter(_._3 == 10).forall(_._4 === 1009L),
      "cap must keep the ascending-id prefix (1000..1009)")
    // the normal bucket is untouched
    assert(byBucket.count(_._3 == 2) === Bands,
      "non-degenerate bucket lost rows")

    // a probe against the capped index is bounded but still collides
    val probe = MinHashLsh.bandKeys(
      constSigs(5000 to 5000, 7L).union(constSigs(5001 to 5001, 11L)),
      "doc_id", K, Bands)
    val hits = probe.as("l")
      .join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.doc_id").as("p"), col("r.doc_id").as("i"))
      .distinct()
      .as[(Long, Long)].collect()
    assert(hits.count(_._1 == 5000L) === 10,
      "degenerate-bucket probe must see exactly the capped representatives")
    assert(hits.count(_._1 == 5001L) === 2,
      "non-degenerate probe must see every index partner")
  }

  test("embedding band guard: degenerate hyperplane cell is chain-linked and verified") {
    graft.functions.expressions.GraftFunctions.register(spark)
    // 50 identical embeddings + 3 distinct near-identical ones
    val dim = 8
    val base = Array.tabulate(dim)(i => 0.1f * (i + 1))
    val rows =
      (0 until 50).map(i => (i.toLong, base)) ++
        Seq((100L, base.map(_ * 1.0001f)), (101L, base.map(_ * 1.0002f)),
          (200L, Array.tabulate(dim)(i => if (i % 2 == 0) -1.0f else 1.0f)))
    val vecs = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))

    val guarded = EmbedNearDup
      .bandedPairs(vecs, "vec_id", bands = 4, planesPerBand = 4, dim = dim,
        minCos = 0.99, maxBucket = 10)
      .as[(Long, Long, Double)].collect()

    // ids 0..49 and 100..101 all land in the same cells (identical /
    // near-identical directions). The 0..49 chain contributes 49
    // pairs; pairs touching 100/101 come from the guard chain or the
    // cold path depending on cell occupancy — what matters: bounded
    // count, full connectivity, and exact cosine on every emitted pair
    val within = guarded.filter(p => p._1 < 50 && p._2 < 50)
    assert(within.length === 49, s"expected 49 chained pairs, got ${within.length}")
    assert(within.forall(_._3 >= 0.999999), "identical vectors must verify at cos≈1")
    assert(guarded.forall(p => p._1 != 200L && p._2 != 200L),
      "opposite-direction vector must not pair")

    val compDf = Components.connectedComponents(
      EmbedNearDup.bandedPairs(vecs, "vec_id", 4, 4, dim, 0.99, maxBucket = 10)
        .select("a", "b"), "a", "b")
    assert(compDf.filter(col("node") < 50).select("component").distinct()
      .count() === 1L, "degenerate embedding cluster split")
  }
}
