package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashLsh

/** A/B perf referee for the LshGuard hot-bucket cap (VERDICT r12 #1:
  * the guarded LSH family's bench snapshot regressed 2–3.5× versus
  * round 11, plausibly beyond box noise — quantify the guard's
  * constant and cheapen it if it costs > ~20%). Runs ONLY when
  * GRAFT_PERF is set:
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.operators.LshGuardPerfSpec"
  *
  * Three implementations of the same candidate-pair contract over the
  * identical signature parquet (sf0.1 documents, K=12, 4 bands):
  *
  *  - `unguarded` — the round-11 shape: persist banded keys, plain
  *    all-pairs band self-join, distinct. The floor any guard overhead
  *    is measured against.
  *  - `windowed` — the round-12 guard: a `count(*) OVER (PARTITION BY
  *    band, key)` occupancy column on the FULL banded frame (exchange
  *    + sort + window before the join), then cold/hot split on `__cnt`.
  *    Kept inline here as the A/B record of what was replaced.
  *  - committed `MinHashLsh.candidatePairs` — the guard as shipped.
  *
  * Referee procedure (same as Q115PerfSpec): warm once, then 5 timed
  * runs each with the banded cache cleared before every run (the
  * signature input stays on disk so each run pays the same scan),
  * compare medians. The spec asserts (1) all three variants emit the
  * identical pair set on this corpus (the guard must be a no-op at the
  * default threshold on non-degenerate data), and (2) the committed
  * guard's median is within 30% of the unguarded floor — the bound the
  * round-12 windowed guard failed.
  */
class LshGuardPerfSpec extends AnyFunSuite with graft.PerfSession {

  private val K = 12
  private val Bands = 4
  private val MaxBucket = graft.functions.LshGuard.DefaultMaxBucket

  /** Round-11 shape: no guard at all. */
  private def unguarded(s: SparkSession, sigsPath: String): DataFrame = {
    val sigs = s.read.parquet(sigsPath)
    val banded = MinHashLsh.bandKeys(sigs, "doc_id", K, Bands).persist()
    val l = banded.as("l")
    val r = banded.as("r")
    val matches = (0 until K)
      .map(i => when(col(s"l.s$i") === col(s"r.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        round(matches / lit(K.toDouble), 4).as("est"))
      .distinct()
  }

  /** Round-12 shape: occupancy via a window over the full banded
    * frame, cold/hot filter on the materialized `__cnt`.
    */
  private def windowed(s: SparkSession, sigsPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigs = s.read.parquet(sigsPath)
    val banded = MinHashLsh.bandKeys(sigs, "doc_id", K, Bands)
      .withColumn("__cnt",
        count(lit(1)).over(Window.partitionBy(col("band"), col("key"))))
      .persist()
    val cold = banded.filter(col("__cnt") <= MaxBucket)
    val l = cold.as("l")
    val r = cold.as("r")
    val matches = (0 until K)
      .map(i => when(col(s"l.s$i") === col(s"r.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    val coldPairs = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"),
        round(matches / lit(K.toDouble), 4).as("est"))
    val sigStruct = struct((0 until K).map(i => col(s"s$i")): _*)
    val ordered = Window.partitionBy(col("band"), col("key"))
      .orderBy(sigStruct.asc, col("doc_id").asc)
    val hotMatches = (0 until K)
      .map(i => when(col("__prev")(s"s$i") === col(s"s$i"), 1).otherwise(0))
      .reduce(_ + _)
    val hotPairs = banded
      .filter(col("__cnt") > MaxBucket)
      .withColumn("__pid", lag(col("doc_id"), 1).over(ordered))
      .withColumn("__prev", lag(sigStruct, 1).over(ordered))
      .filter(col("__pid").isNotNull)
      .select(least(col("__pid"), col("doc_id")).as("a"),
        greatest(col("__pid"), col("doc_id")).as("b"),
        round(hotMatches / lit(K.toDouble), 4).as("est"))
    coldPairs.unionByName(hotPairs).distinct()
  }

  private def committed(s: SparkSession, sigsPath: String): DataFrame =
    MinHashLsh.candidatePairs(s.read.parquet(sigsPath), "doc_id", K, Bands,
      MaxBucket)

  test("guarded candidatePairs vs unguarded floor, 5 timed runs each at sf0.1") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()

    // materialize the signature input once: every timed run reads the
    // same parquet, so signature cost is identical across variants
    val scratch = graft.TestSpark.scratchDir("lsh_ab")
    val sigsPath = s"$scratch/sigs.parquet"
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .withColumn("t", graft.functions.TextFns.tokens(col("text")))
    MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, K)
      .write.mode("overwrite").parquet(sigsPath)

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "unguarded" -> (() => unguarded(spark, sigsPath)),
      "windowed" -> (() => windowed(spark, sigsPath)),
      "committed" -> (() => committed(spark, sigsPath)))

    // identical pair sets before any perf claim (guard is a no-op at
    // the default threshold on this corpus)
    val sets = variants.map { case (n, mk) =>
      spark.catalog.clearCache()
      n -> mk().collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for ((n, set) <- sets.tail)
      assert(set === sets.head._2, s"$n pair set differs from unguarded")

    def time5(mk: () => DataFrame): Seq[Double] = (1 to 5).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); mk().count()
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    // warm: codegen + file listing
    variants.foreach { case (_, mk) => spark.catalog.clearCache(); mk().count() }
    val timed = variants.map { case (n, mk) => (n, time5(mk)) }
    timed.foreach { case (n, ts) =>
      info(f"$n%-10s median ${med(ts)}%.2fs runs ${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    val floor = med(timed.head._2)
    val comm = med(timed.last._2)
    assert(comm <= floor * 1.3,
      f"committed guard costs ${comm / floor}%.2f× the unguarded floor " +
        f"($comm%.2fs vs $floor%.2fs) — above the 1.3× budget")
  }
}
