package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Interleaved wall-clock A/B for the round-16 hyperplane grid
  * scaling at the 200 k-vector decade: the fixed 2/4/6/8 grid's
  * selection is the guarded FALLBACK (every config priced over
  * budget; its p=8 execution carried 367 M raw candidates through the
  * hot-bucket guard at round 15 — the family's 6.2×/decade), while
  * `planeGridFor`'s 2..16 grid selects a FITTING p=16 with 2.56 M
  * candidates (ScaleCalibrationSpec pins those counts exactly, load-
  * independently). This spec referees the wall-clock consequence the
  * way STABILITY's host-load rules demand: same JVM, variants
  * alternated, medians compared. GRAFT_PERF-gated:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.queries.Q187GridPerfSpec"
  */
class Q187GridPerfSpec extends AnyFunSuite with graft.PerfSession {

  test("derived grid beats fixed-grid fallback at 200k vectors (interleaved)") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val dir = "bench/sfgen/sf10"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(),
      s"generate the decade first: runMain graft.tools.ScaleGen $dir ...")
    val spark = perfSession()
    graft.functions.expressions.GraftFunctions.register(spark)
    import graft.functions.VecFns
    import graft.operators.EmbedNearDup

    def vecs(): DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
      .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))

    val n = vecs().count()
    val fixedGrid = Seq(2, 4, 6, 8)
    val derivedGrid = EmbedNearDup.planeGridFor(n)
    assert(derivedGrid.max > fixedGrid.max)

    def run(grid: Seq[Int]): (Int, Long) = {
      val (p, pairs) = EmbedNearDup.calibratedPairs(
        vecs(), "vec_id", 4, grid, 64, 0.4, 20L)
      (p, pairs.count())
    }
    def timed(grid: Seq[Int]): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); run(grid)
      (System.nanoTime() - t0) / 1e9
    }
    // warm both plans, then interleave 3 reps per variant
    timed(fixedGrid); timed(derivedGrid)
    val (fx, dv) = (1 to 3).map(_ => (timed(fixedGrid), timed(derivedGrid))).unzip
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val (mfx, mdv) = (median(fx), median(dv))
    info(f"fixed grid   (fallback p=8) median $mfx%.2f s" +
      f" (${fx.map(x => f"$x%.2f").mkString(", ")})")
    info(f"derived grid (fitting p=16) median $mdv%.2f s" +
      f" (${dv.map(x => f"$x%.2f").mkString(", ")})")
    assert(mdv <= mfx,
      f"the fitting selection ($mdv%.2f s) must not lose to the guarded" +
        f" fallback ($mfx%.2f s) at 200k vectors")
    spark.catalog.clearCache()
  }
}
