package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A/B perf referee for the q115 interval-merge implementation
  * (VERDICT r11 #2: the window rewrite's claimed 2× did not reproduce
  * under load). Runs ONLY when GRAFT_PERF is set — it times two full
  * implementations 5× each at sf0.1 on a dedicated local[32] session,
  * so it has no place in the regular correctness suite.
  *
  *   GRAFT_PERF=1 sbt "testOnly graft.operators.Q115PerfSpec"
  *
  * Both impls are the same dataflow (prefix-MAX of `en`, new-island
  * flag, prefix-SUM, island agg) differing only in the grouped-scan
  * engine: built-in WindowExec (hash-partition by supplier, per-group
  * sort) vs GroupedPrefixSum (range partition by (s, sort keys) +
  * broadcast carry offsets). Suppliers are numerous and bounded-size,
  * which is WindowExec's home turf; the spec asserts the committed
  * (window) impl is not slower than the alternative beyond noise, and
  * prints the 5-run medians for the bench notes.
  */
class Q115PerfSpec extends AnyFunSuite with graft.PerfSession {

  private def shipIntervals(s: SparkSession, d: String) = {
    val st = datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
      .cast("long")
    graft.Tables.load(s, d, "lineitem").select(
      col("l_suppkey").as("s"), st.as("st"),
      (st + col("l_quantity").cast("long")).as("en"),
      col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"))
  }

  private def finish(islands: DataFrame): DataFrame =
    islands.groupBy(col("s"), col("island"))
      .agg(min("st").as("island_start"), max("en").as("island_end"),
        count(lit(1)).as("n_intervals"))
      .select(col("s").as("l_suppkey"), col("island"),
        col("island_start"), col("island_end"), col("n_intervals"))
      .orderBy("l_suppkey", "island")

  private def windowImpl(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("s").orderBy(col("st"), col("en"), col("ok"), col("ln"))
    val withPmax = shipIntervals(s, d).withColumn("pmax",
      max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
    val flagged = withPmax.withColumn("isnew",
      when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
    finish(flagged.withColumn("island",
      sum(col("isnew")).over(w.rowsBetween(Window.unboundedPreceding, 0))))
  }

  private def groupedPrefixImpl(s: SparkSession, d: String): DataFrame = {
    val sort = Seq(col("st"), col("en"), col("ok"), col("ln"))
    val withPmax = GroupedPrefixSum.withRunningMax(
      shipIntervals(s, d), "s", sort, "en", "pmax", inclusive = false)
    val flagged = withPmax.withColumn("isnew",
      when(col("pmax") === lit(Long.MinValue) || col("st") > col("pmax"), 1L)
        .otherwise(0L))
    finish(GroupedPrefixSum.withRunningSum(
      flagged, "s", sort, "isnew", "island", inclusive = true,
      preRanged = true))
  }

  test("window impl vs GroupedPrefixSum impl, 5 timed runs each at sf0.1") {
    assume(sys.env.contains("GRAFT_PERF"), "set GRAFT_PERF=1 to run")
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    // warm: codegen + file listing
    windowImpl(spark, d).count(); groupedPrefixImpl(spark, d).count()

    def time5(mk: => DataFrame): Seq[Double] = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); mk.count(); (System.nanoTime() - t0) / 1e9
    }
    val win = time5(windowImpl(spark, d))
    val gps = time5(groupedPrefixImpl(spark, d))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    info(f"window: median ${med(win)}%.2fs runs ${win.map(t => f"$t%.2f").mkString(",")}")
    info(f"gps:    median ${med(gps)}%.2fs runs ${gps.map(t => f"$t%.2f").mkString(",")}")
    // both must agree row-for-row before any perf claim
    assert(windowImpl(spark, d).exceptAll(groupedPrefixImpl(spark, d)).isEmpty
      && groupedPrefixImpl(spark, d).exceptAll(windowImpl(spark, d)).isEmpty)
    // the committed impl must win (or tie within 20% noise)
    assert(med(win) <= med(gps) * 1.2,
      f"window impl lost: ${med(win)}%.2fs vs ${med(gps)}%.2fs — " +
        "switch q115 back to GroupedPrefixSum")
  }
}
