package graft.tools

import org.apache.spark.sql.SparkSession

/** Deterministic decade-scale generator for the LLM-pipeline tables.
  *
  * The driver ships `documents`/`embeddings` only up to sf0.1 (5 k
  * docs / 2 k vectors). The data-linear costs of the corpus operators
  * (dedup, LSH, ANN, quality scoring) live in exactly those tables, so
  * the scaling-curve audit needs one more decade: this tool writes an
  * sf1-equivalent pair — 10× rows, same schema, same vocabulary, the
  * same source/language mix, and the same *kind* of duplicate
  * structure (a sprinkle of exact copies and near-copies, clustered
  * embeddings) — into an output dir, then symlinks the remaining
  * sf0.1 tables beside them so the full bench registry runs unchanged
  * with only the LLM tables scaled.
  *
  * Everything is a pure function of the row id (hash-seeded PRNG per
  * row, no global RNG state), so the output is bit-identical across
  * runs and machines and the generation parallelizes embarrassingly.
  *
  *   sbt "runMain graft.tools.ScaleGen bench/sfgen/sf1 50000 20000 [srcDir]"
  *
  * `srcDir` (vocabulary + symlink source) defaults to
  * [[ScaleGen.DefaultSrcDir]] — the harness dir, `SPARK_GRAFT_SF_DIR`
  * overridable.
  */
object ScaleGen extends Serializable {

  /** The one place the vocabulary SOURCE is decided (VERDICT r19 #6 /
    * ADVICE r19): the harness corpus dir, overridable with
    * `SPARK_GRAFT_SF_DIR` exactly like `Bench`. [[SketchGen]] shares
    * this constant — a decade corpus generated from a non-default
    * `srcDir` must pass the same dir to the sketch generators or the
    * bit-identity pin (SketchGenSpec) is void.
    */
  val DefaultSrcDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private val Langs = Array("en", "de", "es", "fr", "zh")

  /** Deterministic per-(id, tag) PRNG — mixes bits well enough that
    * adjacent ids do not correlate (splitmix64 finalizer).
    */
  private[tools] def rng(id: Long, tag: Long): java.util.Random = {
    var z = id * 0x9e3779b97f4a7c15L + tag * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  /** Base token sequence for a doc id (before dup structure). */
  private def baseTokens(id: Long, vocab: Array[String]): Array[String] = {
    val r = rng(id, 1)
    Array.fill(40 + r.nextInt(40))(vocab(r.nextInt(vocab.length)))
  }

  private[tools] def unitGaussian(id: Long): Array[Double] = {
    val r = rng(id, 4)
    val v = Array.fill(64)(r.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Document token generator: ~0.2% exact copies of an earlier doc
    * and ~0.5% near-copies (every 17th token substituted) mirror the
    * harness tables' duplicate sprinkle, scaled with N. Exposed
    * tokenized so [[SketchGen]] can compute sketches over the
    * identical virtual corpus without materializing text.
    */
  private[tools] def docTokens(id: Long, vocab: Array[String]): Array[String] =
    if (id % 500 == 7 && id >= 250) baseTokens(id - 250, vocab)
    else if (id % 200 == 13 && id >= 100) {
      val t = baseTokens(id - 100, vocab)
      val r = rng(id, 2)
      t.indices.foreach { j =>
        if (j % 17 == 0) t(j) = vocab(r.nextInt(vocab.length)) }
      t
    } else baseTokens(id, vocab)

  private def docText(id: Long, vocab: Array[String]): String =
    docTokens(id, vocab).mkString(" ")

  /** The decade corpora's shared vocabulary: the harness corpus's own
    * distinct token set (sorted, so the array is deterministic).
    */
  private[tools] def vocabFrom(spark: SparkSession,
      srcDir: String): Array[String] = {
    import spark.implicits._
    spark.read.parquet(s"$srcDir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("t"))
      .distinct().as[String].collect().sorted
  }

  /** The ScaleGen document frame for an id RANGE, generated in-flight
    * (doc_id, text) — the micro-batch source for the streaming-ingest
    * scale referees (VERDICT r19 #4): batches of any size draw from
    * the same virtual corpus the decade sweeps price, including its
    * planted exact/near-dup structure.
    */
  def docsFrame(spark: SparkSession, fromId: Long, untilId: Long,
      srcDir: String = DefaultSrcDir, slices: Int = 32)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val vocab = vocabFrom(spark, srcDir)
    spark.range(fromId, untilId, 1L, slices)
      .map(id => (id, docText(id, vocab)))
      .toDF("doc_id", "text")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("bench/sfgen/sf1")
    val nDocs = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nVecs = args.lift(2).map(_.toLong).getOrElse(20000L)
    val srcDir = args.lift(3).getOrElse(DefaultSrcDir)
    val spark = graft.SessionTuning.builder(32, "scalegen").getOrCreate()
    import spark.implicits._

    // Vocabulary = the harness corpus's own token set, so text-quality
    // heuristics (stopword ratios, langid n-grams) see familiar input.
    val vocab = vocabFrom(spark, srcDir)

    val docs = spark.range(nDocs).map { id =>
      val r = rng(id, 0)
      val lang = {
        val u = r.nextDouble()
        if (u < 0.42) "en" else Langs(1 + ((u - 0.42) / 0.145).toInt.min(3))
      }
      val text = docText(id, vocab)
      (id, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")

    // Distribution-matched to the harness embeddings (measured at
    // sf0.1): UNIT-NORM isotropic Gaussian vectors — per-component
    // σ ≈ 1/√dim = 0.125, label NOT directionally clustered (same-
    // label avg cos ≈ 0), cos≥0.45 pairs at chance rate only. A
    // center+noise cluster generator here would overstate near-dup
    // density quadratically and invalidate the scaling curve. A 0.33%
    // sprinkle of planted moderate-cos perturbations keeps the dup-
    // audit queries non-trivial, linear in N like the doc dups.
    val vecs = spark.range(nVecs).map { id =>
      val v =
        if (id % 300 == 23 && id >= 150) {
          val base = unitGaussian(id - 150)
          val r = rng(id, 5)
          // unit base + unit-norm noise (σ = 1/√dim per component)
          // → cos(v, base) ≈ 1/√2 ≈ 0.71
          val mixed = base.map(b => b + r.nextGaussian() / 8)
          val n = math.sqrt(mixed.map(x => x * x).sum)
          mixed.map(x => (x / n).toFloat)
        } else unitGaussian(id).map(_.toFloat)
      (id, v, (id % 10).toInt)
    }.toDF("vec_id", "embedding", "label")

    val out = java.nio.file.Paths.get(outDir).toAbsolutePath
    java.nio.file.Files.createDirectories(out)
    docs.coalesce(4).write.mode("overwrite")
      .parquet(out.resolve("documents.parquet").toString)
    vecs.coalesce(2).write.mode("overwrite")
      .parquet(out.resolve("embeddings.parquet").toString)

    // Everything else stays at sf0.1 — symlink so the full registry
    // runs against this dir with only the LLM tables scaled.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events").foreach { t =>
      val link = out.resolve(s"$t.parquet")
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(srcDir, s"$t.parquet"))
    }
    println(s"[scalegen] wrote $nDocs docs + $nVecs vectors to $out")
    spark.stop()
  }
}
