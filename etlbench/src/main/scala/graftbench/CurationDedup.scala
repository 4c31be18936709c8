package graftbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.Curation
import graft.functions.{MinHashLsh, PersistLeases, SimHash64, TextFns, VecFns}
import graft.operators.{Components, EmbedNearDup}
import graft.tools.ScaleGen

/** The generated corpus: where it lives and what the model predicts. */
final class Corpus(val docsPath: String, val vecsPath: String, val nDocs: Long,
    val nVecs: Long, val qualityKept: Long, val exactKept: Long,
    val plantedNearDocs: Long, val plantedNearVecs: Long)

/** Per-operation outcome of the chain: per-family selected config and
  * result counts. `canonicalKept` is the row count of the written output.
  */
final case class ChainResult(quality: Long, exact: Long, minhashBands: Int,
    minhashKept: Long, simhashWidth: Int, simhashCandidates: Long,
    simhashVerified: Long, embedPlanes: Int, embedPairs: Long,
    canonicalKept: Long)

/** `curation_dedup`: the corpus-curation chain over a seeded
  * `ScaleGen.docsFrame` corpus plus ScaleGen-shaped vectors —
  * tokenize, quality filter, exact dedup, the three calibrated banded
  * LSH families (MinHash, SimHash-64, hyperplane), canonical near-dup
  * clustering, and a parquet write of what is kept. No text-format
  * parsing and no ETL table layout.
  */
object CurationDedup extends Workload {

  val Docs = 4000L
  val Vecs = 2000L
  val Dim = 64
  private val VocabWords = 600
  private val SetupRounds = 3
  private val MinOps = 2
  private val HammingMax = 3
  private val EmbBands = 4
  private val MinCos = 0.4

  private def rng(seed: Long, id: Long, tag: Long): Random =
    new Random(seed * 0x9e3779b97f4a7c15L + id * 0xbf58476d1ce4e5b9L + tag)

  /** A lowercase vocabulary including each language's marker words, so
    * the quality filter's language gate keeps roughly half the corpus.
    */
  def vocabulary(seed: Long): Seq[String] = {
    val r = rng(seed, 0, 1)
    val markers = TextFns.langMarkers.values.flatten.toSeq
    val words = mutable.LinkedHashSet.empty[String] ++ markers
    while (words.size < VocabWords)
      words += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    words.toSeq
  }

  /** ScaleGen's vector shape: unit-norm isotropic Gaussians with a
    * sprinkle of planted near-copies (cos ≈ 0.7 to an earlier vector).
    */
  def vector(seed: Long, id: Long): Array[Float] = {
    def unit(i: Long): Array[Double] = {
      val r = rng(seed, i, 4)
      val v = Array.fill(Dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val v = if (id % 300 == 23 && id >= 150) {
      val r = rng(seed, id, 5)
      unit(id - 150).map(b => b + r.nextGaussian() / 8)
    } else unit(id)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def setUp(ctx: Ctx, dir: Path): Corpus = {
    val spark = ctx.spark
    import spark.implicits._
    val vocabDir = dir.resolve("vocab")
    Seq((0L, vocabulary(ctx.seed).mkString(" "))).toDF("doc_id", "text")
      .write.parquet(vocabDir.resolve("documents.parquet").toString)
    // ScaleGen's duplicate structure is keyed on the id, so the seeded
    // id range keeps its period-500/200 alignment
    val from = (ctx.seed % 1000000L) * 1000L
    val docs = ScaleGen.docsFrame(spark, from, from + Docs, vocabDir.toString,
      slices = spark.sparkContext.defaultParallelism)
    val docsPath = dir.resolve("docs").toString
    docs.write.parquet(docsPath)
    val vecsPath = dir.resolve("vecs").toString
    val seed = ctx.seed
    spark.range(Vecs).map(id => (id, vector(seed, id), (id % 10).toInt))
      .toDF("vec_id", "embedding", "label").write.parquet(vecsPath)

    // model: the quality gate and exact dedup, computed driver-side
    val texts = spark.read.parquet(docsPath).as[(Long, String)].collect()
    val markers = TextFns.langMarkers.map { case (k, v) => k -> v.toSet }
    val passing = texts.filter { case (_, text) =>
      val t = text.split(" ", -1)
      def score(l: String) = t.count(markers(l))
      val punct = text.count(c => !((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' '))
      val ratio = BigDecimal(punct.toDouble / text.length).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      ratio < 0.1 && t.length >= 10 && score("en") >= score("de") && score("en") >= score("fr")
    }
    val exact = passing.groupBy(_._2).values.map(_.map(_._1).min).toSet
    // ScaleGen plants near-copies at id % 200 == 13 of id − 100
    val nearDocs = exact.count(id => id % 200 == 13 && exact.contains(id - 100))
    val nearVecs = (0L until Vecs).count(id => id % 300 == 23 && id >= 150)
    new Corpus(docsPath, vecsPath, Docs, Vecs, passing.length, exact.size,
      nearDocs, nearVecs)
  }

  /** One pass of the chain. The returned span times the chain alone:
    * each family's result is consumed by one aggregate, and the kept
    * documents are written. The counts the check needs (quality filter,
    * exact dedup, rows written) are taken after the span ends. Under an
    * enabled tracer each call is a child span and each lazy result is
    * forced at its boundary.
    */
  def chain(ctx: Ctx, c: Corpus, tr: Tracer, out: String): (ChainResult, Span) = {
    val spark = ctx.spark
    val traced = tr.enabled
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(df: => DataFrame): DataFrame =
      tr.span(name, "corpus") {
        val d = df
        if (traced) {
          tr.span("plans.plan", "plans")(d.queryExecution.executedPlan)
          val (p, _) = ctx.force(d); cached += p; p
        } else d
      }
    def counted(name: String, layer: String)(n: => Long): Long =
      tr.spanCounted(name, layer)(n, (v: Long) => Map("count" -> v.toDouble))._1
    try {
      val ((quality, exact, families), root) = tr.spanCounted("curation_dedup", "workload")({
        val docs = spark.read.parquet(c.docsPath)
        val tok = stage("corpus.with_tokens")(Curation.withTokens()(docs))
        val quality = stage("corpus.quality_filter")(Curation.qualityFilter()(tok))
        val exact = stage("corpus.exact_dedup")(Curation.exactDedup()(quality))

        val (bands, kept, releaseMinhash) = tr.span("functions.calibration", "functions")(
          Curation.calibratedNearDupWithCleanup()(exact))
        val nKept = counted("functions.minhash.execute", "functions")(kept.count())
        releaseMinhash()

        val sigs = tr.span("functions.signatures", "functions") {
          val s = SimHash64.fingerprintsFromTokens(exact, "doc_id", "t", 3).persist()
          s.count(); s
        }
        val (width, shPairs, releaseSimhash) = tr.span("functions.calibration", "functions")(
          SimHash64.calibratedPairsWithCleanup(sigs, "doc_id", "sh"))
        val (shCand, shVer) = tr.span("functions.simhash.execute", "functions") {
          val r = shPairs.agg(count(lit(1)),
            coalesce(sum(when(SimHash64.hamming(col("sa"), col("sb")) <= HammingMax, 1L)), lit(0L)))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        releaseSimhash(); sigs.unpersist(blocking = false)

        graft.functions.expressions.GraftFunctions.register(spark)
        val vecs = tr.span("functions.signatures", "functions") {
          val v = spark.read.parquet(c.vecsPath)
            .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
            .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
            .persist()
          v.count(); v
        }
        val grid = EmbedNearDup.planeGridFor(c.nVecs, EmbBands)
        val (planes, embPairs, releaseEmbed) = tr.span("functions.calibration", "functions")(
          EmbedNearDup.calibratedPairsWithCleanup(vecs, "vec_id", EmbBands, grid, Dim, MinCos))
        val nEmb = counted("functions.embed.execute", "functions")(embPairs.count())
        releaseEmbed(); vecs.unpersist(blocking = false)

        if (traced) {
          // the candidate graph nearDupCanonical clusters, materialized
          // first so the span measures Components alone
          val sigsMh = MinHashLsh.signaturesFromTokens(exact, "doc_id", "t", 3, 12)
          val (edges, _) = ctx.force(MinHashLsh.candidatePairs(sigsMh, "doc_id", 12, 4)
            .filter(col("est") >= 0.5))
          cached += edges
          counted("operators.components", "operators")(
            Components.connectedComponents(edges, "a", "b").count())
        }
        val canonical = stage("corpus.near_dup_canonical")(
          Curation.nearDupCanonical(struct((-length(col("text"))).as("neg_len"), col("doc_id")))(exact))
        tr.span("corpus.write", "corpus")(
          canonical.select("doc_id", "text").write.mode("overwrite").parquet(out))
        (quality, exact, (bands, nKept, width, shCand, shVer, planes, nEmb))
      })
      val (bands, nKept, width, shCand, shVer, planes, nEmb) = families
      (ChainResult(quality.count(), exact.count(), bands, nKept, width, shCand, shVer,
        planes, nEmb, spark.read.parquet(out).count()), root)
    } finally {
      cached.foreach(_.unpersist(blocking = false))
      PersistLeases.releaseAll()
    }
  }

  /** Mismatches of one pass against the model and the reference pass. */
  def check(c: Corpus, r: ChainResult, ref: Option[ChainResult]): Seq[String] = {
    val m = mutable.ArrayBuffer.empty[String]
    if (r.quality != c.qualityKept)
      m += s"quality kept ${r.quality}, model ${c.qualityKept}"
    if (r.exact != c.exactKept) m += s"exact kept ${r.exact}, model ${c.exactKept}"
    // near-dup removal only ever drops planted near-copies, and drops
    // at least half of them
    def nearBounds(name: String, kept: Long): Unit =
      if (kept > c.exactKept - c.plantedNearDocs / 2 || kept < c.exactKept - c.plantedNearDocs)
        m += s"$name kept $kept outside [${c.exactKept - c.plantedNearDocs}, ${c.exactKept - c.plantedNearDocs / 2}]"
    nearBounds("minhash", r.minhashKept)
    nearBounds("canonical", r.canonicalKept)
    if (r.simhashVerified > r.simhashCandidates) m += "simhash verified > candidates"
    if (r.embedPairs < c.plantedNearVecs / 2) m += s"embed pairs ${r.embedPairs} < half of ${c.plantedNearVecs} planted"
    ref.foreach { p =>
      val same = (r.minhashBands, r.minhashKept, r.simhashWidth, r.simhashCandidates,
        r.simhashVerified, r.embedPlanes, r.embedPairs, r.canonicalKept) ==
        (p.minhashBands, p.minhashKept, p.simhashWidth, p.simhashCandidates,
          p.simhashVerified, p.embedPlanes, p.embedPairs, p.canonicalKept)
      if (!same) m += s"pass differs from the warm-up pass: $r vs $p"
    }
    m.toSeq
  }

  def run(ctx: Ctx): Report = {
    var corpus: Corpus = null
    val rounds = (1 to SetupRounds).map { k =>
      val t0 = System.nanoTime()
      corpus = setUp(ctx, ctx.fresh(s"corpus-$k"))
      ctx.elapsedSince(t0)
    }
    val tw = System.nanoTime()
    val (reference, _) = chain(ctx, corpus, ctx.untraced, ctx.fresh("out-warmup").toString)
    val warmup = ctx.elapsedSince(tw)
    val warmupProblems = check(corpus, reference, None)
    ctx.note(f"set-up rounds ${rounds.map(r => f"$r%.2f").mkString(",")} s, warm-up chain $warmup%.2f s: $reference")

    var k = 0
    // one chain; its result is checked and its output removed afterwards
    def op(tr: Tracer): (Option[ChainResult], Span) = {
      val out = ctx.fresh(s"out-$k").toString; k += 1
      val t0 = System.nanoTime()
      val r = try Right(chain(ctx, corpus, tr, out)) catch { case e: Exception => Left(e) }
      // a chain that threw is charged its wall time up to the throw
      val span = r.map(_._2).getOrElse(Span(0, None, "curation_dedup", "workload", t0, System.nanoTime()))
      ctx.note(f"chain ${tr.enabled}: ${span.durationNs / 1e9}%.3f s")
      ctx.verdict.record(warmupProblems ++ (r match {
        case Right((res, _)) => check(corpus, res, Some(reference))
        case Left(e) => Seq(s"chain threw ${e.getMessage}")
      }))
      ctx.deleteTree(java.nio.file.Paths.get(out))
      ctx.heap.sample()
      (r.toOption.map(_._1), span)
    }
    val rows = (corpus.nDocs + corpus.nVecs).toDouble
    if (!ctx.trace) {
      val times = Measure.window(ctx.seconds, MinOps)(op(ctx.untraced)._2.durationNs / 1e9)
      val p50 = Stats.median(times)
      Report(
        Map("setup_s" -> Metric(ctx.setupSeconds(rounds, warmup), "s"),
          "op_p50_ms" -> Metric(p50 * 1000, "ms"),
          "heap_peak_mb" -> Metric(ctx.heap.peakMb, "MB")),
        Map("curation_rows_per_s" -> Metric(rows / p50, "rows/s"),
          "docs" -> Metric(corpus.nDocs, "count"), "vectors" -> Metric(corpus.nVecs, "count"),
          "ops" -> Metric(times.size, "count")))
    } else {
      val untracedS = op(ctx.untraced)._2.durationNs / 1e9
      val (res, root) = op(ctx.tracer)
      val roots = Seq(root)
      val generic = ctx.declaredLayers(roots, untracedS, root.durationNs / 1e9)
      Report(generic, layerMetrics(ctx, roots, res.toSeq))
    }
  }

  private def layerMetrics(ctx: Ctx, roots: Seq[Span], results: Seq[ChainResult]): Map[String, Metric] = {
    val ops = roots.size.toDouble
    def s(name: String, self: Boolean = false) = ctx.spanSeconds(name, self) / ops
    val l = ctx.listener.get
    val calib = ctx.tracer.all.filter(_.name == "functions.calibration").map(_.id).toSet
    def avg(f: ChainResult => Double) =
      if (results.isEmpty) Double.NaN else results.map(f).sum / results.size
    val cand = avg(r => (r.simhashCandidates + r.embedPairs).toDouble)
    val ver = avg(r => (r.simhashVerified + r.embedPairs).toDouble)
    Map(
      "functions.signatures.s" -> Metric(s("functions.signatures"), "s"),
      "functions.calibration.s" -> Metric(s("functions.calibration"), "s"),
      "functions.calibration.eager_jobs" -> Metric(l.totalsFor(calib).jobs / ops, "count"),
      "functions.candidate_pairs" -> Metric(cand, "count"),
      "functions.verified_pairs" -> Metric(ver, "count"),
      "functions.useful_pair_ratio" -> Metric(ver / cand, "ratio"),
      "functions.minhash.selected_config" -> Metric(avg(_.minhashBands), "bands"),
      "functions.simhash.selected_config" -> Metric(avg(_.simhashWidth), "bits"),
      "functions.embed.selected_config" -> Metric(avg(_.embedPlanes), "planes"),
      "functions.minhash.execute_s" -> Metric(s("functions.minhash.execute"), "s"),
      "functions.simhash.execute_s" -> Metric(s("functions.simhash.execute"), "s"),
      "functions.embed.execute_s" -> Metric(s("functions.embed.execute"), "s"),
      "operators.components.s" -> Metric(s("operators.components"), "s"),
      "curation.op_s" -> Metric(roots.map(_.durationNs / 1e9).sum / ops, "s"),
      "curation_rows_per_s" -> Metric((Docs + Vecs) * ops / roots.map(_.durationNs / 1e9).sum, "rows/s")) ++
      Seq("with_tokens", "quality_filter", "exact_dedup", "near_dup_canonical", "write").map { st =>
        s"corpus.$st.self_s" -> Metric(s(s"corpus.$st", self = true), "s")
      }
  }
}
