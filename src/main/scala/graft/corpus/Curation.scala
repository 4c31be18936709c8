package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BandedLsh, LshGuard, MinHashLsh, PersistLeases, TextFns}
import graft.operators.{BloomDecontaminate, Components}

/** Composable corpus-curation stages — the public API form of the
  * training-data release pipeline that the query registry exercises
  * piecewise (q21–q29, q58, q61, q96–q97, q101–q110). Every stage is
  * `DataFrame => DataFrame` over a corpus with (`idCol`, `textCol`)
  * columns, so pipelines compose with plain `Function1.andThen` /
  * `DataFrame.transform` and each stage keeps the scale shape its
  * query counterpart pins (no windows over unbounded groups, no
  * all-pairs joins, dimension-sized broadcasts only).
  *
  * Stages expect a materialized token-array column (`tokensCol`) —
  * call [[withTokens]] once up front; higher-order text functions
  * re-tokenize per reference otherwise (see `TextFns`).
  */
object Curation {

  /** Tokenize once; every later stage reads the array column. */
  def withTokens(textCol: String = "text", tokensCol: String = "t")(
      df: DataFrame): DataFrame =
    df.withColumn(tokensCol, TextFns.tokens(col(textCol)))

  /** Gopher/CCNet-style quality gate: punctuation ratio, minimum
    * length, language identification — all per-row codegen'd
    * predicates; zero shuffles.
    */
  def qualityFilter(lang: String = "en", minTokens: Int = 10,
      maxPunctRatio: Double = 0.1, textCol: String = "text",
      tokensCol: String = "t")(df: DataFrame): DataFrame =
    df.filter(
      TextFns.punctRatio(col(textCol)) < maxPunctRatio
        && size(col(tokensCol)) >= minTokens
        && TextFns.langIdentifyFromTokens(col(tokensCol)) === lang)

  /** Exact dedup, keep the lowest id per content hash — one hash
    * shuffle on the digest, winners rejoin by semi-join.
    */
  def exactDedup(idCol: String = "doc_id", textCol: String = "text")(
      df: DataFrame): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** The near-dup pairs of a tokenized corpus: MinHash signatures
    * over `shingleWidth`-token shingles (`k` components, one pass per
    * document), their banded candidate pairs at `bands` bands through
    * the hot-bucket guard, and the pairs whose estimate reaches
    * `threshold` — (a, b, est), a < b. The fixed-config stages below
    * and the registry's near-dup graph queries build their pairs here.
    */
  private[graft] def nearDupPairs(df: DataFrame, idCol: String,
      tokensCol: String, shingleWidth: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val sigs =
      MinHashLsh.signaturesFromTokens(df, idCol, tokensCol, shingleWidth, k)
    MinHashLsh.candidatePairs(sigs, idCol, k, bands)
      .filter(col("est") >= threshold)
  }

  /** MinHash/LSH near-dup removal: drop the higher id of every
    * [[nearDupPairs]] pair. Banded equi-join — never all-pairs.
    *
    * CACHING CONTRACT (ADVICE r18): the input frame is persisted by
    * [[graft.functions.PersistLeases.persist]], which registers its
    * unpersist handle as a lease — released by the session's
    * `releaseAll()` drain (harness loops call it between queries) or,
    * in long-lived sessions composing many pipelines, by wrapping the
    * pipeline in `PersistLeases.scoped { ... }` and releasing the
    * returned scope once the result is consumed. Callers needing an
    * explicit handle should use [[calibratedNearDupWithCleanup]].
    */
  def nearDupFilter(threshold: Double = 0.5, k: Int = 12, bands: Int = 4,
      shingleWidth: Int = 3, idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): DataFrame = {
    // the input feeds both the signature pass and the survivors
    // anti-join; uncached, a composed pipeline's whole upstream chain
    // executes twice (the calibratedNearDup rationale). Released with
    // the session's lease drain.
    val src = PersistLeases.persist(df)
    val drop = nearDupPairs(src, idCol, tokensCol, shingleWidth, k, bands,
        threshold)
      .select(col("b").as(idCol)).distinct()
    src.join(drop, Seq(idCol), "left_anti")
  }

  /** Calibrate-then-execute near-dup removal — the operator that
    * CONSUMES the q185 band-count calibration instead of running a
    * fixed config. One zero-shuffle signature pass is shared by both
    * phases: the sweep derives every grid config's banded-join cost
    * (Σ m·(m−1)/2 candidate pairs per (band, key) bucket) from one
    * groupBy over the persisted signatures, the highest-recall (most
    * bands) config whose candidate load fits `pairsPerDocBudget` per
    * signed document is selected (fewest bands as fallback — q185's
    * exact rule), and the banded near-dup filter then executes with
    * the selected config. The sweep's stats frame has |bandGrid| rows
    * (a constant), so the driver-side selection collect is bounded by
    * construction.
    *
    * At 100 TB this replaces "hope bands=4 fits" with one extra
    * aggregation over the signature frame — the same shape as the
    * candidate join it calibrates, minus the join.
    *
    * @return (selectedBands, corpus with the higher id of every
    *         candidate pair at or above `threshold` removed)
    */
  def calibratedNearDup(pairsPerDocBudget: Long = 20L, threshold: Double = 0.5,
      k: Int = 12, bandGrid: Seq[Int] = Seq(2, 3, 4, 6), shingleWidth: Int = 3,
      idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): (Int, DataFrame) = {
    val (sel, kept, _) = calibratedNearDupWithCleanup(pairsPerDocBudget,
      threshold, k, bandGrid, shingleWidth, idCol, tokensCol)(df)
    (sel, kept)
  }

  /** [[calibratedNearDup]] plus an unpersist handle for the cached
    * signature frame — the returned corpus still reads it lazily, so
    * call the handle only after the result has been consumed.
    * Long-lived sessions running many corpora should use this form
    * (the `EmbedNearDup.bandedPairsWithCleanup` policy); the plain
    * form's cache is reclaimed by `spark.catalog.clearCache()`.
    */
  def calibratedNearDupWithCleanup(pairsPerDocBudget: Long = 20L,
      threshold: Double = 0.5, k: Int = 12,
      bandGrid: Seq[Int] = Seq(2, 3, 4, 6), shingleWidth: Int = 3,
      idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): (Int, DataFrame, () => Unit) = {
    // persist the INPUT corpus too: it feeds both the signature pass
    // and the survivors anti-join, and in a composed pipeline (q190:
    // quality filter → exact dedup → here) the upstream chain carries
    // its own shuffles — uncached, the whole prefix would execute
    // twice
    val src = df.persist()
    val sigs = MinHashLsh
      .signaturesFromTokens(src, idCol, tokensCol, shingleWidth, k)
      .persist()
    // fused calibrate-then-execute: the sweep's persisted occupancy
    // yields the selected config's over-cap buckets, so the executing
    // join skips the separate occupancy probe (pathological hot sets
    // past HotKeyCollectCap fall back to the probing path)
    val (selected, pairs, releasePairs) = BandedLsh.calibratedPairs(
      MinHashLsh.family(sigs, idCol, k), bandGrid, pairsPerDocBudget,
      LshGuard.DefaultMaxBucket)
    val drop = pairs
      .filter(col("est") >= threshold)
      .select(col("b").as(idCol)).distinct()
    (selected, src.join(drop, Seq(idCol), "left_anti"),
      () => {
        releasePairs()
        sigs.unpersist(blocking = false)
        src.unpersist(blocking = false)
        ()
      })
  }

  /** Winnowing (MOSS) fingerprints computed inside ONE pass over the
    * corpus — bit-equal to the declarative q84 construction (12-hex
    * md5-prefix gram hashes, per-window min of (h, −pos) over full
    * windows only, distinct per doc) with the window run locally in a
    * typed `mapPartitions`: the selection is doc-local, so the
    * doc_id-partitioned window shuffle — which moved the FULL gram
    * stream (one row per token) before winnowing's ~w× thinning ever
    * applied — is unnecessary. At 100 TB this makes fingerprint
    * selection a map-only stage; the first shuffle in a winnowing
    * pipeline is then the (already thinned) fingerprint-value
    * aggregation. Parity pinned by WinnowOnePassSpec.
    *
    * @return (idCol, fp) — each doc's distinct selected fingerprint
    *         values; docs with fewer than k+w−1 tokens yield no rows
    */
  def winnowFingerprints(df: DataFrame, idCol: String = "doc_id",
      tokensCol: String = "t", k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val idType = df.schema(idCol).dataType
    val rows = df
      .select(col(idCol).cast("string"), col(tokensCol).cast("array<string>"))
      .as[(String, Array[String])]
      .mapPartitions { it =>
        // r21: allocation-free single-pass MD5 + byte-level gram
        // assembly (the signaturesFromTokens rewrite) — each token
        // UTF-8-encodes once per document, no String/digest-array
        // allocations in the per-gram loop; bytes and the 6-byte
        // prefix value are identical (Md5Spec)
        val md = new graft.functions.Md5.First8
        val bb = new graft.functions.Md5.ByteBuf
        var tokBytes = new Array[Array[Byte]](64)
        val fps = new java.util.HashSet[java.lang.Long]
        it.flatMap { case (id, t) =>
          val nGrams = if (t == null) 0 else t.length - k + 1
          if (nGrams < w) Iterator.empty
          else {
            if (tokBytes.length < t.length)
              tokBytes = new Array[Array[Byte]](t.length)
            var e = 0
            while (e < t.length) {
              tokBytes(e) = if (t(e) == null) null else t(e).getBytes("UTF-8")
              e += 1
            }
            // gram hashes: first 12 hex chars of md5 == first 6
            // digest bytes, big-endian — the declarative conv value
            val hs = new Array[Long](nGrams)
            var p = 0
            while (p < nGrams) {
              bb.reset()
              // null elements skipped, separator and all — concat_ws
              // semantics, matching the declarative q84 twin (the
              // SimHash.fingerprintsFromTokens ADVICE-r18 note;
              // unreachable from split() arrays, pinned anyway)
              var o = 0
              while (o < k) {
                val tok = tokBytes(p + o)
                if (tok != null) {
                  if (bb.len > 0) bb.appendSpace()
                  bb.append(tok)
                }
                o += 1
              }
              hs(p) = md.hash(bb.buf, bb.len) >>> 16
              p += 1
            }
            // per full window: min h, ties to the RIGHTMOST position
            // (min (h, −pos)); w is small, a plain O(w) scan per
            // window beats deque bookkeeping
            fps.clear()
            p = 0
            while (p <= nGrams - w) {
              var best = hs(p)
              var j = p + 1
              while (j < p + w) {
                if (hs(j) <= best) best = hs(j)
                j += 1
              }
              fps.add(best): Unit
              p += 1
            }
            val out = new Array[(String, Long)](fps.size)
            val fit = fps.iterator()
            var i = 0
            while (fit.hasNext) { out(i) = (id, fit.next()); i += 1 }
            out.iterator
          }
        }
      }
    rows.select(col("_1").cast(idType).as(idCol), col("_2").as("fp"))
  }

  /** Span-level dedup stage (VERDICT r16 #6 — the public form of the
    * q84/q165 routing contract in ARCHITECTURE): drop documents that
    * share verbatim token spans with other documents.
    *
    * PRODUCTION PATH (`exact = false`, the default): winnowing (MOSS)
    * fingerprints — hash every `k`-gram, keep each `w`-window's
    * minimum, and drop any document sharing at least `minSharedFps`
    * fingerprint VALUES with another document. The winnowing
    * guarantee (pinned exactly by SpanDedupContractSpec): every
    * cross-document verbatim span of ≥ k+w−1 tokens is caught. Cost
    * shape: one doc_id-partitioned windowed min over the gram stream,
    * one fingerprint-value aggregation — the selection thins the gram
    * stream ~w× before anything shuffles by value.
    *
    * EXACT PATH (`exact = true`): the q165 accounting — EVERY
    * `spanK`-token window hashes and shuffles by value, duplicated
    * windows merge into maximal regions per doc, and documents whose
    * duplicated-token fraction reaches `maxDupFrac` drop. Exact span
    * mass, at ~w× the shuffled volume of the winnowing path — the
    * measurement/forensics tool, not the corpus-scale default
    * (SpanDedupContractSpec measured winnowing doc-level recall
    * 1.0000 against it at sf0.01).
    *
    * Caching contract: input persisted under a
    * [[graft.functions.PersistLeases]] lease — see [[nearDupFilter]].
    */
  def spanDedup(k: Int = 4, w: Int = 5, minSharedFps: Long = 1L,
      exact: Boolean = false, spanK: Int = 6, maxDupFrac: Double = 0.5,
      idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): DataFrame = {
    require(k >= 1 && w >= 1 && minSharedFps >= 1 && spanK >= 1)
    // consumed twice (fingerprints + anti-join) — see nearDupFilter
    val src = PersistLeases.persist(df)
    val dropIds =
      if (!exact) {
        // q84's exact construction (12-hex md5 prefix gram hashes,
        // windowed (h, -pos) min, full windows only), computed
        // map-only by [[winnowFingerprints]] — the per-doc rows are
        // already distinct by construction, so the per-fingerprint
        // doc count is a plain count(*) window over fp and the
        // fingerprint pass runs ONCE (the aggregate-then-semi-join
        // form referenced the fps subplan twice, doubling the gram
        // hashing; one fp-partitioned window replaces both)
        winnowFingerprints(src, idCol, tokensCol, k, w)
          .withColumn("nd", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("fp")))
          .filter(col("nd") >= 2)
          .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minSharedFps)
          .select(idCol)
      } else {
        // q165's exact accounting (DocQueries): duplicated-window
        // region merge, threshold on the duplicated-token fraction
        val docs = src
          .select(col(idCol), col(tokensCol).as("__t"))
          .withColumn("n_tok", size(col("__t")))
          .filter(col("n_tok") >= spanK)
        val grams = docs.select(col(idCol), col("n_tok"),
            posexplode(transform(sequence(lit(0), col("n_tok") - spanK),
              i => md5(concat_ws(" ", slice(col("__t"), i + 1, lit(spanK)))))))
          .toDF(idCol, "n_tok", "pos", "gh")
        val dup = grams.groupBy("gh")
          .agg(count_distinct(col(idCol)).as("nd"))
          .filter(col("nd") >= 2).select("gh")
        val byPos = org.apache.spark.sql.expressions.Window
          .partitionBy(idCol).orderBy("pos")
        val prevMaxEnd = max(col("e"))
          .over(byPos.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
        val hits = grams.join(dup, "gh")
          .withColumn("e", col("pos") + (spanK - 1))
          .withColumn("newr",
            when(col("pos") > coalesce(prevMaxEnd + 1, lit(Int.MinValue)), 1L)
              .otherwise(0L))
        hits
          .withColumn("gid", sum(col("newr")).over(byPos.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy(col(idCol), col("gid"))
          .agg(max("n_tok").as("n_tok"),
            min("pos").as("rs"), max("e").as("re"))
          .groupBy(idCol)
          .agg((sum(col("re") - col("rs") + 1) /
            max("n_tok")).as("dup_frac"))
          .filter(col("dup_frac") >= maxDupFrac)
          .select(idCol)
      }
    src.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Near-dup clustering variant: keep ONE canonical doc per
    * connected component of the [[nearDupPairs]] graph (the q102
    * shape), choosing by `preferenceAsc` ascending (e.g.
    * `struct(-n_chars, doc_id)`).
    *
    * Caching contract: input persisted under a
    * [[graft.functions.PersistLeases]] lease — see [[nearDupFilter]].
    */
  def nearDupCanonical(preferenceAsc: Column, threshold: Double = 0.5,
      k: Int = 12, bands: Int = 4, shingleWidth: Int = 3,
      idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): DataFrame = {
    // consumed three times (signatures, canonical-pick join, final
    // semi-join) — see the nearDupFilter caching note
    val src = PersistLeases.persist(df)
    val pairs =
      nearDupPairs(src, idCol, tokensCol, shingleWidth, k, bands, threshold)
    val comp = Components.connectedComponents(pairs, "a", "b")
      .withColumnRenamed("node", idCol)
    val keep = src.join(comp, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
      .groupBy("__comp")
      .agg(min(struct(preferenceAsc.as("__pref"), col(idCol).as("__id")))
        .getField("__id").as(idCol))
      .select(idCol)
    src.join(keep, Seq(idCol), "left_semi")
  }

  /** LSH recall audit (the q162 dataflow): exact-Jaccard ground-truth
    * pairs (shingle-set self-join, J ≥ `jMin`) left-joined against
    * what the GUARDED production band join surfaces, bucketed by J
    * decile → (bucket, n_exact, n_found). The measurement that
    * justifies (k, bands) before a corpus-wide rollout. The exact
    * ground truth is super-linear in posting-list density — run it at
    * calibration scale, or use [[sampledRecallAudit]] for a cost that
    * does not grow with the corpus.
    */
  def recallAudit(shingleWidth: Int = 3, jMin: Double = 0.3, k: Int = 12,
      bands: Int = 4, idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = LshGuard.DefaultMaxBucket)(
      df: DataFrame): DataFrame = {
    val withT = df.withColumn("__t", TextFns.tokens(col(textCol)))
    // per-doc shingle dedup is LOCAL (array_distinct) — a duplicate
    // shingle only repeats within its own document, so no corpus-wide
    // distinct shuffle is needed before hashing
    val sh = withT.select(col(idCol), explode(array_distinct(
        TextFns.wordShinglesFromTokens(col("__t"), shingleWidth))).as("__sh"))
      .select(col(idCol), xxhash64(col("__sh")).as("h"))
      .repartition(col("h"))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    val inter = sh.toDF("a", "h").join(sh.toDF("b", "h2"),
        col("h") === col("h2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val exact = inter
      .join(sizes.toDF("a", "na"), "a")
      .join(sizes.toDF("b", "nb"), "b")
      .withColumn("j", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= jMin)
    val sigs = MinHashLsh.signaturesFromTokens(withT, idCol, "__t",
      shingleWidth, k)
    val found = MinHashLsh.candidatePairs(sigs, idCol, k, bands, maxBucket)
      .select("a", "b")
      .withColumn("found", lit(1L))
    exact.join(found, Seq("a", "b"), "left")
      .withColumn("bucket", floor(col("j") * 10).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .orderBy("bucket")
  }

  /** [[recallAudit]] on a deterministic md5-draw sample with an
    * expected `targetDocs` rows (rate = target/N): the ground truth is
    * O(target²) at ANY corpus size, and a sampled pair's "found" bit
    * depends only on the two documents' own band keys — identical to
    * the full-corpus band join's verdict for that pair — so per-bucket
    * recall is an unbiased estimate of the full audit's (the q181
    * shape).
    *
    * CAVEAT — [[graft.functions.BandedLsh]] guard interaction: the
    * band-key-only argument above holds for the UNguarded join. A
    * bucket that is hot (> maxBucket occupants) in the full corpus is
    * chain-linked there, while the same bucket sampled down by
    * rate = target/N can fall under the threshold and take the exact
    * all-pairs path — so on guard-affected buckets the sampled audit
    * measures unguarded recall and can overstate guarded production
    * recall. To audit the guarded regime itself, scale the threshold
    * with the sample (`maxBucket ≈ default · target/N`) via the
    * `maxBucket` parameter; the default (`DefaultMaxBucket`, i.e.
    * effectively unguarded on a ≤`targetDocs` sample) keeps the
    * unbiased-estimate property for the non-degenerate corpus, which
    * is what (k, bands) calibration needs.
    */
  def sampledRecallAudit(targetDocs: Int = 1000, salt: String = "audit:",
      shingleWidth: Int = 3, jMin: Double = 0.3, k: Int = 12,
      bands: Int = 4, idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = LshGuard.DefaultMaxBucket)(
      df: DataFrame): DataFrame = {
    val nRow = df.agg(count(lit(1)).as("__n"))
    val u = conv(substring(md5(concat(lit(salt),
        col(idCol).cast("string"))), 1, 6), 16, 10)
      .cast("double") / lit(16777216.0)
    val sampled = df.crossJoin(broadcast(nRow))
      .filter(u < least(lit(1.0), lit(targetDocs.toDouble) / col("__n")))
      .drop("__n")
    recallAudit(shingleWidth, jMin, k, bands, idCol, textCol,
      maxBucket)(sampled)
  }

  /** Benchmark decontamination: drop every document sharing ANY
    * `shingleWidth`-gram with the eval corpus. Exact — the bloom is
    * only a candidate prefilter (never a false negative), survivors
    * are verified by semi-join (the q109 shape).
    */
  def decontaminate(evalDocs: DataFrame, shingleWidth: Int = 3,
      expectedEvalShingles: Long = BloomDecontaminate.AutoSize,
      idCol: String = "doc_id", tokensCol: String = "t")(
      df: DataFrame): DataFrame = {
    def shingles(d: DataFrame): DataFrame =
      d.select(col(idCol),
          explode(TextFns.wordShinglesFromTokens(col(tokensCol), shingleWidth))
            .as("__sh"))
        // 64-bit xxhash64: codegen'd native identity for the
        // probe/verify joins (both sides reduce identically, so the
        // choice of hash never surfaces in results)
        .select(col(idCol), xxhash64(col("__sh")).as("__h"))
    // tiered eval side (see BloomDecontaminate.verifiedFlags): one
    // collect job + broadcast verify when the eval set is bounded,
    // persisted distributed build + shuffle semi-join beyond the cap
    val contaminated = BloomDecontaminate
      .verifiedFlags(shingles(df), "__h", shingles(evalDocs).select("__h"),
        "__h", expectedEvalShingles)
      .select(idCol).distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Sequence packing: assign each doc to the fixed-size token window
    * (`bin`) its running offset lands in, per source, ordered by id —
    * via `GroupedPrefixSum` (range partitioning + broadcast carry
    * offsets; a huge source spans many tasks — the q93 shape, never a
    * per-source window). Requires a LongType token-count column.
    */
  def packSequences(windowTokens: Long, idCol: String = "doc_id",
      sourceCol: String = "source", nTokCol: String = "n_tok")(
      df: DataFrame): DataFrame =
    graft.operators.GroupedPrefixSum.withRunningSum(
        df, sourceCol, Seq(col(idCol)), nTokCol, "__cum_before",
        inclusive = false)
      .withColumn("bin", expr(s"__cum_before div $windowTokens"))
      .drop("__cum_before")

  /** Token-budget cap: keep docs, in salted-hash order per source,
    * until the source's cumulative token count passes `budget` (the
    * q94 shape — deterministic, engine-independent, no per-source
    * window).
    */
  def tokenBudget(budget: Long, salt: String = "budget:",
      idCol: String = "doc_id", sourceCol: String = "source",
      nTokCol: String = "n_tok")(df: DataFrame): DataFrame = {
    val ordered = df.withColumn("__ord",
      md5(concat(lit(salt), col(idCol).cast("string"))))
    graft.operators.GroupedPrefixSum.withRunningSum(
        ordered, sourceCol, Seq(col("__ord"), col(idCol)), nTokCol,
        "__cum_before", inclusive = false)
      .filter(col("__cum_before") < budget)
      .drop("__cum_before", "__ord")
  }
}
