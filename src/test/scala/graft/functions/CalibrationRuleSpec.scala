package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.operators.EmbedNearDup

/** Cross-family pin of the ONE calibration selection rule (see
  * ARCHITECTURE.md "Calibration selection rules"): every calibration
  * picks the HIGHEST-RECALL config whose exact sweep load fits the
  * per-doc pair budget, and falls back to the LOWEST-LOAD config when
  * none fits. Each family reaches recall through a different knob
  * direction — more bands (MinHash), narrower bit width (SimHash),
  * fewer planes per band (hyperplane) — encoded once in its adapter's
  * `recallOrder`, so a grid or comparator change that silently
  * inverted any one rule would fail exactly that family's row.
  *
  * Two corpora per family pin both ends of every direction:
  *  - ALL-UNIQUE: every config's load fits a generous budget → the
  *    selection must sit at the highest-recall end of the grid;
  *  - ALL-IDENTICAL (50 copies): every config's load blows any
  *    real budget → the selection must sit at the lowest-load end
  *    (the hyperplane adapter's fused path extends to its cap first).
  */
class CalibrationRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Budget = 20L

  private def uniqueDocs(n: Int) = (0 until n).map(i =>
    (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
    .toDF("doc_id", "text")
    .withColumn("t", TextFns.tokens(col("text")))

  private def identicalDocs(n: Int) = (0 until n).map(i =>
    (i.toLong, "boilerplate footer repeated verbatim on every page"))
    .toDF("doc_id", "text")
    .withColumn("t", TextFns.tokens(col("text")))

  private def simhashSigs(docs: DataFrame) = docs
    .select(col("doc_id"), explode(col("t")).as("tok")).distinct()
    .groupBy("doc_id").agg(SimHash.simhashAgg(col("tok")).as("sh"))

  private val (bands, dim) = (4, 8)

  private def quantized(n: Int, embed: Int => Array[Float]) = {
    graft.functions.expressions.GraftFunctions.register(spark)
    (0 until n).map(i => (i.toLong, embed(i))).toDF("vec_id", "embedding")
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
  }

  /** One family adapter under the rule: its inputs, its adapter over
    * an input, its grid, the two ends of the rule, and its fused
    * calibrate-then-execute selection.
    */
  private case class Rule(unique: () => DataFrame, identical: () => DataFrame,
      family: DataFrame => BandedLsh.Family, grid: Seq[Int],
      recallEnd: Int, fallbackEnd: Int, fusedFallback: Int,
      fused: DataFrame => Int)

  private def selectAlone(r: Rule, in: DataFrame): Int = {
    val fam = r.family(in)
    BandedLsh.select(BandedLsh.occupancy(fam, r.grid), fam, r.grid, Budget)._1
  }

  private val rules: Seq[(String, Rule)] = Seq(
    "MinHash bands: recall knob is MORE bands; fallback is fewest" -> {
      val grid = Seq(2, 3, 4, 6)
      def sigs(docs: DataFrame) =
        MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, 12)
      Rule(() => sigs(uniqueDocs(10)), () => sigs(identicalDocs(50)),
        MinHashLsh.family(_, "doc_id", 12), grid, grid.max, grid.min, grid.min,
        in => BandedLsh.calibrate(MinHashLsh.family(in, "doc_id", 12), grid,
          Budget, LshGuard.DefaultMaxBucket)._1)
    },
    "SimHash width: recall knob is NARROWER bands; fallback is widest" -> {
      val grid = SimHash.DefaultWidthGrid
      Rule(() => simhashSigs(uniqueDocs(10)), () => simhashSigs(identicalDocs(50)),
        SimHash.family(_, "doc_id", "sh"), grid, grid.min, grid.max, grid.max,
        SimHash.calibratedPairs(_, "doc_id", "sh", grid, Budget)._1)
    },
    "hyperplane planes: recall knob is FEWER planes; fallback is most" -> {
      val grid = Seq(2, 4, 6, 8)
      // round 17: the fused path EXTENDS on overshoot before falling
      // back — a nothing-fits corpus (identical vectors collide at any
      // p) sweeps the extension rungs up to PlaneCap and lands on the
      // cap, not the original grid max; the sweep-only selector keeps
      // the in-grid fallback rule
      Rule(
        () => quantized(10, i =>
          Array.tabulate(dim)(j => ((i * 31 + j * 17) % 13 - 6).toFloat / 6f)),
        // 50 identical vectors: one bucket of 50 per band in EVERY config
        () => quantized(50, _ => Array.tabulate(dim)(j => (j % 5 - 2).toFloat / 2f)),
        EmbedNearDup.family(_, "vec_id", bands, dim), grid,
        grid.min, grid.max, EmbedNearDup.PlaneCap,
        EmbedNearDup.calibratedPairs(_, "vec_id", bands, grid, dim, 0.4, Budget)._1)
    })

  for ((name, r) <- rules) test(name) {
    val (unique, identical) = (r.unique(), r.identical())
    assert(selectAlone(r, unique) === r.recallEnd,
      "all-fitting corpus must select the highest-recall config")
    assert(r.fused(unique) === r.recallEnd,
      "the fused path must select the highest-recall config too")
    assert(selectAlone(r, identical) === r.fallbackEnd,
      "nothing-fits corpus must fall back to the lowest-load config")
    assert(r.fused(identical) === r.fusedFallback,
      "the fused path's nothing-fits fallback moved")
  }
}
