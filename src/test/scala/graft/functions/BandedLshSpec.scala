package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.TestSpark
import graft.operators.EmbedNearDup

/** The no-hot-bucket execution path's count-skip precondition, per
  * family: with no hot bucket, [[BandedLsh.execute]] self-joins the
  * unpersisted banded frame and relies on exchange reuse to compute
  * it once per shuffle join. With `spark.sql.exchange.reuse` off it
  * must take the persist + shuffle-free count path instead, so the
  * band-key pass still runs exactly once rather than once per join
  * side.
  *
  * The pass is counted by a family decorator whose banded frame routes
  * its key through a non-deterministic identity UDF that bumps an
  * accumulator once per computed row.
  */
class BandedLshSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def counted(fam: BandedLsh.Family, acc: LongAccumulator) =
    new BandedLsh.Family {
      val idCol = fam.idCol
      val recallOrder = fam.recallOrder
      def bands(cfg: Int): Int = fam.bands(cfg)
      def gridInput(grid: Seq[Int]): DataFrame = fam.gridInput(grid)
      def gridKey(cfg: Int, band: Int): Column = fam.gridKey(cfg, band)
      def banded(cfg: Int): DataFrame = {
        val a = acc // the UDF closure must capture the accumulator alone
        val tick = udf { (k: Long) => a.add(1); k }.asNondeterministic()
        fam.banded(cfg).withColumn("key", tick(col("key")))
      }
      def content: Column = fam.content
      def pair(lo: String => Column, hi: String => Column): Seq[Column] =
        fam.pair(lo, hi)
    }

  private def docs = (0 until 300).map(i =>
      (i.toLong, s"w${i % 40} x${i % 7} y$i z${i % 11} v${i % 5} u${i % 3}"))
    .toDF("doc_id", "text")
    .withColumn("t", TextFns.tokens(col("text")))

  /** family name -> (adapter over its input, the input, a grid) */
  private val families: Seq[(String, () => (BandedLsh.Family, Seq[Int]))] = Seq(
    "MinHash" -> (() => (MinHashLsh.family(
      MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 2, 12).persist(),
      "doc_id", 12), Seq(2, 3, 4, 6))),
    "SimHash" -> (() => (SimHash.family(
      SimHash.fingerprintsFromTokens(docs, "doc_id", "t", 1).persist(),
      "doc_id", "sh"), SimHash.DefaultWidthGrid)),
    "hyperplane" -> { () =>
      graft.functions.expressions.GraftFunctions.register(spark)
      val vecs = (0 until 300).map(i =>
          (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 17) % 13 - 6) / 6.0)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
        .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
        .persist()
      (EmbedNearDup.family(vecs, "vec_id", 4, 8), Seq(2, 4, 6, 8))
    })

  test("with exchange reuse off, no-hot execution runs the band-key pass once") {
    val reuseKey = org.apache.spark.sql.internal.SQLConf.EXCHANGE_REUSE_ENABLED.key
    try {
      for ((name, make) <- families) {
        val (fam, grid) = make()
        val rows = fam.gridInput(grid).count()
        val (cfg, hot) = BandedLsh.calibrate(fam, grid, 20L,
          LshGuard.DefaultMaxBucket)
        assert(hot.exists(_._1.isEmpty), s"$name: expected no hot bucket")
        val acc = spark.sparkContext.longAccumulator(s"bandKeys.$name")
        spark.conf.set(reuseKey, "false")
        val (pairs, release) = BandedLsh.execute(counted(fam, acc), cfg, hot,
          LshGuard.DefaultMaxBucket)
        pairs.count()
        release()
        assert(acc.value === rows * fam.bands(cfg),
          s"$name: the band-key pass computed ${acc.value} rows for " +
            s"${rows * fam.bands(cfg)} banded rows")
        spark.conf.unset(reuseKey)
        spark.catalog.clearCache()
      }
    } finally spark.conf.unset(reuseKey)
  }
}
