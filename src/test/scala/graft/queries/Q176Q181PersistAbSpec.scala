package graft.queries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFns, VecFns}

/** Same-JVM interleaved A/B referee for the VERDICT r16 #3 persist
  * pass over the two >2×-with-≥1s-absolute queries. Each variant is
  * replicated inline (the registry holds only the winner, so the
  * loser's dataflow lives here as the committed control):
  *
  *   - q176_rrf_fusion: persisting the tokenized doc slice and the
  *     quantized vectors read WITHIN NOISE across two interleaved
  *     sessions (medians 2.16-vs-2.68 then 2.40-vs-2.20 s under
  *     load) — the registry impl keeps the persists on scale grounds
  *     (each frame is read by two branches; at corpus scale the saved
  *     rescans grow with the data while the persist overhead does
  *     not), with the A/B showing the bench-scale cost is nil.
  *   - q181_sampled_recall_audit: persisting the sampled frame and the
  *     hashed shingles, plus a driver-side corpus count replacing the
  *     broadcast-crossjoined 1-row aggregate, LOST the interleaved A/B
  *     (old 2.47 vs new 3.15 s median): at this absolute scale the
  *     query is JOB-FLOOR-bound (FloorAttributionSpec: ~20 jobs/run),
  *     and the persist barriers serialize branches that the
  *     plan-embedded aggregate version runs concurrently inside fewer
  *     jobs — the registry impl keeps the original dataflow, and the
  *     floor attribution in STABILITY documents why the <2× target is
  *     out of reach (DuckDB total at sf0.1 is ~84 ms; the dataflow's
  *     ideal 32-core compute alone exceeds 2× that).
  *
  * GRAFT_PERF-gated; numbers above measured at round 17 on a loaded
  * box — rerun both tests for fresh medians before citing new ones.
  */
class Q176Q181PersistAbSpec extends AnyFunSuite with graft.PerfSession {
  test("q176 old-vs-new interleaved A/B") {
    assume(sys.env.contains("GRAFT_PERF"))
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    val ListN = 50; val RrfK = 60; val FuseN = 20
    def q176(persists: Boolean): Long = {
      val docs0 = graft.Tables.docsParallel(spark, d)
        .filter(col("doc_id") < 2000)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        .withColumn("len", size(col("t")))
      val docs = if (persists) docs0.persist() else docs0
      val stats = docs.agg(count(lit(1)).as("n"), sum("len").as("sumlen"))
      val tf = docs
        .select(col("doc_id"), col("len"), explode(col("t")).as("tok"))
        .filter(col("tok").isin(Extended18.Bm25Terms.map(x => x: Any): _*))
        .groupBy("doc_id", "len", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("tok")
        .agg(count_distinct(col("doc_id")).as("dfreq"))
      val bm = tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("avglen", col("sumlen").cast("double") / col("n"))
        .withColumn("idf", log(lit(1.0) +
          (col("n") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)))
        .withColumn("contrib",
          col("idf") * (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
        .groupBy("doc_id").agg(round(sum("contrib"), 6).as("bm25"))
      val text50 = bm.orderBy(col("bm25").desc, col("doc_id")).limit(ListN)
        .withColumn("rt", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rt"))
      val all0 = VectorQueries.quantized(spark, d)
      val all = if (persists) all0.persist() else all0
      val q0 = broadcast(all.filter(col("vec_id") === 0)
        .toDF("q_id", "q_vq", "q_nsq"))
      val scored = all.toDF("n_id", "n_vq", "n_nsq").crossJoin(q0)
        .filter(col("n_id") =!= col("q_id"))
        .withColumn("dot", VecFns.dotQFast(col("q_vq"), col("n_vq")))
        .withColumn("cos",
          VecFns.cosineFromQ(col("dot"), col("q_nsq"), col("n_nsq")))
        .withColumn("cos_r", round(col("cos"), 6))
      val vec50 = scored.orderBy(col("cos_r").desc, col("n_id")).limit(ListN)
        .withColumn("rv", row_number().over(
          Window.orderBy(col("cos_r").desc, col("n_id"))).cast("long"))
        .select(col("n_id").as("doc_id"), col("rv"))
      text50.join(vec50, Seq("doc_id"), "full_outer")
        .withColumn("rrf_nano",
          coalesce(expr(s"1000000000 div (${RrfK} + rt)"), lit(0L)) +
            coalesce(expr(s"1000000000 div (${RrfK} + rv)"), lit(0L)))
        .select(col("doc_id"), col("rt").as("r_text"), col("rv").as("r_vec"),
          col("rrf_nano"))
        .orderBy(col("rrf_nano").desc, col("doc_id"))
        .limit(FuseN).count()
    }
    def clear(): Unit = spark.catalog.clearCache()
    q176(false); clear(); q176(true); clear()
    val olds = collection.mutable.ArrayBuffer[Double]()
    val news = collection.mutable.ArrayBuffer[Double]()
    for (i <- 1 to 4) {
      val order = if (i % 2 == 1) Seq(false, true) else Seq(true, false)
      for (p <- order) {
        val t0 = System.nanoTime(); q176(p)
        val dt = (System.nanoTime() - t0) / 1e9
        (if (p) news else olds) += dt
        clear()
      }
    }
    info(f"old(no persist): median ${olds.sorted.apply(olds.size/2)}%.3f runs " +
      olds.map(t => f"$t%.2f").mkString(","))
    info(f"new(persist): median ${news.sorted.apply(news.size/2)}%.3f runs " +
      news.map(t => f"$t%.2f").mkString(","))
  }

  /** q181's audit body at both persist policies (the registry keeps
    * persists = false — see the class note).
    */
  private def auditBody(sampled: DataFrame, persists: Boolean): DataFrame = {
    import graft.functions.MinHashLsh
    val withT = sampled.withColumn("__t", TextFns.tokens(col("text")))
    val sh0 = withT.select(col("doc_id"), explode(array_distinct(
        TextFns.wordShinglesFromTokens(col("__t"), 3))).as("__sh"))
      .select(col("doc_id"), xxhash64(col("__sh")).as("h"))
      .repartition(col("h"))
    val sh = if (persists) sh0.persist() else sh0
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.toDF("a", "h").join(sh.toDF("b", "h2"),
        col("h") === col("h2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val exact = inter
      .join(sizes.toDF("a", "na"), "a")
      .join(sizes.toDF("b", "nb"), "b")
      .withColumn("j", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= 0.3)
    val sigs = MinHashLsh.signaturesFromTokens(withT, "doc_id", "__t", 3, 12)
    val found = MinHashLsh.candidatePairs(sigs, "doc_id", 12, 4)
      .select("a", "b").withColumn("found", lit(1L))
    exact.join(found, Seq("a", "b"), "left")
      .withColumn("bucket", floor(col("j") * 10).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .orderBy("bucket")
  }

  test("q181 old-vs-new interleaved A/B") {
    assume(sys.env.contains("GRAFT_PERF"))
    val spark = perfSession()
    val d = "/root/testdata/sf0.1"
    val u = conv(substring(md5(concat(lit("audit:"),
        col("doc_id").cast("string"))), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    def oldQ(): Long = { // the registry dataflow (winner)
      val df = graft.Tables.docsParallel(spark, d)
      val nRow = df.agg(count(lit(1)).as("__n"))
      val sampled = df.crossJoin(broadcast(nRow))
        .filter(u < least(lit(1.0), lit(1000.0) / col("__n")))
        .drop("__n")
      auditBody(sampled, persists = false).count()
    }
    def newQ(): Long = { // the rejected persist variant (control)
      val df = graft.Tables.docsParallel(spark, d)
      val n = df.count()
      val sampled = df.filter(u < least(lit(1.0), lit(1000.0 / n))).persist()
      auditBody(sampled, persists = true).count()
    }
    def clear(): Unit = spark.catalog.clearCache()
    oldQ(); clear(); newQ(); clear() // warm both
    val olds = collection.mutable.ArrayBuffer[Double]()
    val news = collection.mutable.ArrayBuffer[Double]()
    for (i <- 1 to 4) {
      val order = if (i % 2 == 1) Seq(true, false) else Seq(false, true)
      for (isOld <- order) {
        val t0 = System.nanoTime()
        if (isOld) oldQ() else newQ()
        val dt = (System.nanoTime() - t0) / 1e9
        (if (isOld) olds else news) += dt
        clear()
      }
    }
    info(f"old(registry): median ${olds.sorted.apply(olds.size/2)}%.3f runs " +
      olds.map(t => f"$t%.2f").mkString(","))
    info(f"new(persist control): median ${news.sorted.apply(news.size/2)}%.3f" +
      " runs " + news.map(t => f"$t%.2f").mkString(","))
  }
}
