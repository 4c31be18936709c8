package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Structural invariants at sf1 for the eight queries whose
  * exact-replay oracles DuckDB cannot execute at that scale (q53,
  * q92, q117, q121, q169, q178 + since round 14 q186, q187 —
  * hash-checked up to sf0.1; the sf1 CTE replays exceed DuckDB's
  * 900 s / 32 GB / spill budget). GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.Sf1InvariantSpec"
  *
  * These are CHECK_SKIP's coverage at the decade the oracle cannot
  * reach: each query must run at sf1 AND satisfy properties that hold
  * for ANY corpus — count conservation, label consistency, bound
  * obedience — plus a driver-side exact recheck of a bounded sample
  * where the semantics allow (q53's cosines).
  */
class Sf1InvariantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "bench/sfgen/sf1"
  private def gated(): Unit =
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
  private def run(name: String) = Registry.all(name).impl(spark, dir)

  test("q53 sf1: pair orientation, cosine bounds, sampled exact recheck") {
    gated()
    val rows = run("q53_embed_neardup").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      val c = r.getAs[Double]("cos_r")
      assert(c >= 0.4 && c <= 1.0)
    }
    // exact recheck of a bounded sample: recompute the quantized
    // cosine driver-side from the raw embeddings for 50 pairs
    val sample = rows.take(50).map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("cos_r")))
    val ids = sample.flatMap(p => Seq(p._1, p._2)).distinct
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val scale = graft.functions.VecFns.Scale
    def q(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * scale))
    for ((a, b, cosR) <- sample) {
      val (va, vb) = (q(vecs(a)), q(vecs(b)))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val exact = dot.toDouble /
        (math.sqrt(va.map(x => x * x).sum.toDouble) *
          math.sqrt(vb.map(x => x * x).sum.toDouble))
      assert(math.abs(BigDecimal(exact).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble - cosR) < 1e-9,
        s"pair ($a,$b): reported $cosR, exact $exact")
    }
    spark.catalog.clearCache()
  }

  test("q92 sf1: component labels are min-consistent and self-rooted") {
    gated()
    val rows = run("q92_embed_components").collect()
    assert(rows.nonEmpty)
    val comp = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("component"))).toMap
    for ((v, c) <- comp) {
      assert(c <= v, s"label $c exceeds member $v (min-labeling broken)")
      assert(comp.get(c).contains(c), s"root $c of $v is not self-rooted")
    }
    spark.catalog.clearCache()
  }

  test("q117 sf1: triangle count obeys graph bounds") {
    gated()
    val r = run("q117_lsh_triangles").collect()
    assert(r.length === 1)
    val (nodes, edges, tris) = (r.head.getAs[Long]("n_nodes"),
      r.head.getAs[Long]("n_edges"), r.head.getAs[Long]("n_triangles"))
    assert(nodes >= 2 || edges == 0)
    assert(edges <= nodes * (nodes - 1) / 2)
    // every triangle consumes 3 distinct edges; each edge is in at
    // most (nodes - 2) triangles
    assert(tris * 3 <= edges * math.max(nodes - 2, 0))
    spark.catalog.clearCache()
  }

  test("q121 sf1: pagerank floor and damped-total conservation") {
    gated()
    val rows = run("q121_pagerank").collect()
    assert(rows.nonEmpty)
    val scores = rows.map(_.getAs[Long]("score"))
    assert(scores.forall(_ >= 150000L), "teleport floor violated")
    // per round: Σ contributions ≤ Σ scores (integer floors only
    // lose mass), so Σ s' ≤ 150000·n + 0.85·Σ s; with s₀ = 10⁶ the
    // total can never exceed 10⁶·n
    assert(scores.sum <= 1000000L * rows.length,
      s"damped total exceeded: ${scores.sum} over ${rows.length} nodes")
    spark.catalog.clearCache()
  }

  test("q169 sf1: class partition and doc/pair accounting") {
    gated()
    val rows = run("q169_modality_audit").collect()
    assert(rows.nonEmpty)
    val classes = rows.map(_.getAs[String]("class")).toSet
    assert(classes.subsetOf(Set("both", "text_only", "embed_only")))
    assert(classes.size === rows.length, "duplicate class rows")
    for (r <- rows) {
      val (p, d) = (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))
      assert(p >= 1L)
      assert(d >= 2L && d <= 2L * p,
        s"class ${r.getAs[String]("class")}: $d docs from $p pairs")
    }
    spark.catalog.clearCache()
  }

  test("q186 sf1: executed config == calibration row, budget respected, counts conserved") {
    gated()
    val rows = run("q186_calibrated_neardup").collect()
    assert(rows.nonEmpty)
    val bandsVals = rows.map(_.getAs[Long]("bands")).distinct
    assert(bandsVals.length === 1, "one selected config across all rows")
    val bands = bandsVals.head.toInt
    val grid = Seq(2, 3, 4, 6)
    assert(grid.contains(bands))
    // executed config == the calibration operator's independent
    // selection on the identical signatures (one rule, re-derived)
    val docs = graft.Tables.docsParallel(spark, dir)
      .transform(graft.corpus.Curation.withTokens())
    val sigs = graft.functions.MinHashLsh.signaturesFromTokens(
      docs, "doc_id", "t", 3, 12).persist()
    assert(graft.functions.MinHashLsh.calibrateBands(
      sigs, "doc_id", 12, grid, 20L) === bands)
    // budget respected by the EXECUTED config: exact banded candidate
    // load at the selected band count stays within 20 pairs/doc
    val occ = graft.functions.MinHashLsh.bandKeys(sigs, "doc_id", 12, bands)
      .groupBy("band", "key").agg(count(lit(1)).as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("cand"),
        sum(col("m")).as("tot")).head()
    // the selection rule: the executed config fits the budget, or it
    // is the documented lowest-load fallback (fewest bands)
    val nDocs = occ.getAs[Long]("tot") / bands
    assert(occ.getAs[Long]("cand") <= 20L * nDocs || bands == grid.min,
      s"selected config's load ${occ.getAs[Long]("cand")} exceeds the" +
        s" budget and is not the fewest-bands fallback")
    // count conservation: kept docs never exceed the per-source total
    val perSource = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n"))
      .toMap
    for (r <- rows) {
      val (src, kept) = (r.getAs[String]("source"), r.getAs[Long]("n_kept"))
      assert(kept >= 1L && kept <= perSource(src),
        s"source $src: kept $kept of ${perSource(src)}")
    }
    spark.catalog.clearCache()
  }

  test("q187 sf1: executed config == calibration row, budget, pair bounds, exact recheck") {
    gated()
    val rows = run("q187_calibrated_embed_neardup").collect()
    assert(rows.nonEmpty)
    val planesVals = rows.map(_.getAs[Long]("planes")).distinct
    assert(planesVals.length === 1, "one selected config across all rows")
    val planes = planesVals.head.toInt
    for (r <- rows) {
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      val c = r.getAs[Double]("cos_r")
      assert(c >= 0.4 && c <= 1.0)
    }
    // executed config == the standalone selector's choice on the
    // identical quantized vectors, over the CORPUS-DERIVED grid (the
    // round-16 planeGridFor contract: sf1's 20k vectors extend the
    // ceiling to 12 — the decade behavior this spec exists to pin)
    graft.functions.expressions.GraftFunctions.register(spark)
    val all = graft.Tables.embeddingsParallel(spark, dir)
      .select(col("vec_id"),
        graft.functions.VecFns.quantize(col("embedding")).as("vq"))
      .persist()
    val grid = graft.operators.EmbedNearDup.planeGridFor(all.count(), 4, 20L)
    assert(grid.contains(planes))
    val fam = graft.operators.EmbedNearDup.family(all, "vec_id", 4, 64)
    assert(graft.functions.BandedLsh.select(
      graft.functions.BandedLsh.occupancy(fam, grid), fam, grid, 20L)._1 === planes)
    // budget respected by the executed config
    val keyed = (0 until 4).map(b => all.select(lit(b).as("band"),
      graft.functions.VecFns.lshBandKey(col("vq"), b, planes, 64).as("key")))
      .reduce(_ unionByName _)
    val occ = keyed.groupBy("band", "key").agg(count(lit(1)).as("m"))
      .agg(sum(expr("(m * (m - 1)) div 2")).as("cand"),
        sum(col("m")).as("tot")).head()
    // the selection rule: the executed config fits the budget, or it
    // is the documented lowest-load fallback (most planes)
    val nVec = occ.getAs[Long]("tot") / 4
    assert(occ.getAs[Long]("cand") <= 20L * nVec || planes == grid.max,
      s"selected config's load ${occ.getAs[Long]("cand")} exceeds the" +
        s" budget and is not the most-planes fallback")
    // sampled exact recheck (the q53 pattern): recompute the quantized
    // cosine driver-side from the raw embeddings for 50 pairs
    val sample = rows.take(50).map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("cos_r")))
    val ids = sample.flatMap(p => Seq(p._1, p._2)).distinct
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val scale = graft.functions.VecFns.Scale
    def q(v: Array[Float]): Array[Long] =
      v.map(x => math.round(x.toDouble * scale))
    for ((a, b, cosR) <- sample) {
      val (va, vb) = (q(vecs(a)), q(vecs(b)))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val exact = dot.toDouble /
        (math.sqrt(va.map(x => x * x).sum.toDouble) *
          math.sqrt(vb.map(x => x * x).sum.toDouble))
      assert(math.abs(BigDecimal(exact).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble - cosR) < 1e-9,
        s"pair ($a,$b): reported $cosR, exact $exact")
    }
    spark.catalog.clearCache()
  }

  test("q178 sf1: cell accounting conserved, one survivor per cell") {
    gated()
    val rows = run("q178_semdedup").collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === n,
      "cell occupancies do not sum to the corpus")
    for (r <- rows) {
      val (v, dr) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_dropped"))
      // the lowest-id vector of a cell has no earlier dominator
      assert(dr >= 0L && dr < v,
        s"cell ${r.getAs[Long]("cell")}: $dr dropped of $v")
    }
    spark.catalog.clearCache()
  }
}
