package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.corpus.Curation
import graft.functions.{MisraGries, TextFns}
import graft.multimodal.Multimodal
import graft.operators.GroupedPrefixSum
import Shared.shingleCtes

/** Training-data-pipeline queries over the `documents` table: exact,
  * chunk, span and containment dedup (the banded-LSH near-dup family
  * is in `LshQueries`), text analysis (tokens, quality, language-ID,
  * fingerprints, lexical statistics, collocations), language-model
  * scoring and perplexity buckets, quality filters and
  * decontamination, BM25 retrieval, BPE tokenizer training, and the
  * multimodal binary-column stages (frame sampling, thumbnails).
  *
  * Oracle parity notes:
  *  - shingling = word n-grams over a literal single-space split, so
  *    DuckDB's `string_split` and Spark's `split` agree exactly;
  *  - all hashes are md5 hex strings (portable);
  *  - every emitted measure is an integer (counts, micro-units, ppm)
  *    or a rounded double, and every transcendental (ln) is quantized
  *    to integer micro-nats per DISTINCT integer-count tuple before any
  *    summation, so aggregation order never shifts a hash.
  */
object DocQueries {

  // q93 packing window (tokens).
  private val PackWindow = 4096L
  // q95 repetition flag threshold (duplicate-shingle fraction).
  private val RepThreshold = 0.2

  // q96/q109: the held-out "benchmark" source, and q96's contamination
  // flag threshold. Declared before `queries`: the oracle SQL embeds
  // these at Map construction.
  // NB: sources are named src0..src19 (no zero padding) — "src00"
  // would silently select an empty eval set and make the whole check
  // vacuous.
  private val EvalSource = "src0"
  private val ContamThreshold = 0.1

  /** q105 chunk width (tokens). Small enough that the synthetic
    * word-salad corpus actually shares chunks across documents; the
    * operator shape is width-independent.
    */
  private val DedupChunkW = 4

  /** q106: exact heavy-hitter threshold 1/50 of all tokens; the
    * Misra–Gries capacity must be ≥ 49 for the candidate pass to be a
    * guaranteed superset (N/(capacity+1) ≤ N/50).
    */
  private val HhDenom = 50
  private val MgCapacity = 64

  /** q126: docs below their source's p25 length are dropped. */
  private val GateQ = 0.25

  /** q133: corpus-level types seen fewer than this many times drop. */
  private val MinTypeCount = 3L
  private val PruneStopwords = Seq("a", "the")

  /** q135: shingles in more than this many docs are skipped before the
    * candidate join — the standard frequent-shingle cutoff that bounds
    * per-key join fan-out (a stop-shingle would otherwise pair every
    * doc with every doc).
    */
  private val MaxShingleDf = 64L

  /** q135: report pairs where ≥ 60% of a's rare shingles occur in b. */
  private val ContainmentPpm = 600000L

  /** q137: minimum bigram support for a collocation candidate. */
  private val PmiMinCount = 5L

  /** q138: chunk width / stride in tokens (25% overlap). */
  private val ChunkW = 32
  private val ChunkS = 24

  /** Per-document char-trigram counts keyed by packed long (3 × 21-bit
    * UTF-16 units — exact for the BMP; a non-BMP corpus would need
    * code-point iteration). Shared by q141's train and score passes.
    */
  private def triCounts(text: String): scala.collection.mutable.LongMap[Long] = {
    val m = new scala.collection.mutable.LongMap[Long]()
    var i = 0
    while (i + 3 <= text.length) {
      val g = (text.charAt(i).toLong << 42) |
        (text.charAt(i + 1).toLong << 21) | text.charAt(i + 2).toLong
      if (m.contains(g)) m.update(g, m(g) + 1L) else m.update(g, 1L)
      i += 1
    }
    m
  }

  /** q165: token width of a duplicated span seed. */
  private val SpanK = 6

  /** q173/q175 stopwords and the q174/q176 BM25 query terms. */
  private val Stopwords = Seq("the", "a", "of", "and", "to")
  private[queries] val Bm25Terms = Seq("join", "window", "hash", "scan", "filter")

  // q175: a fixed-point linear probe trained by batch gradient descent
  // (each epoch is ONE corpus aggregation against broadcast weights).
  // Exact-integer formulation so the DuckDB oracle reproduces it
  // bit-for-bit: Spark `div`/`%` and DuckDB `//`/`%` share C semantics
  // (truncation toward zero, sign of the dividend) — verified for the
  // negative gradient sums q175 produces.
  private val Iters = 3         // q175 GD epochs (weights exact at any count)

  /** q175 feature extraction — shared by impl and oracle doc below.
    * Features are small non-negative integers (caps keep every
    * gradient sum far inside 64 bits: |r| ≤ ~1e6 ppm, f ≤ 256, so
    * sum(r·f) ≤ 1e6·256·N — exact BIGINT up to N ~ 7e10 docs; beyond
    * that the same pass runs on per-partition partial sums).
    */
  private def probeFeatures(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents").select(
      col("doc_id"),
      when(col("lang") === "en", 1000000L).otherwise(0L).as("y"),
      least(size(TextFns.tokens(col("text"))), lit(256)).cast("long").as("f1"),
      expr("least(length(text), 4096) div 16").cast("long").as("f2"),
      least(size(expr(
        s"filter(split(text, ' '), x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")}))")),
        lit(64)).cast("long").as("f3"))

  /** q179 power-of-two bucket edges; docs are clipped to the last
    * edge (the assembler's max sequence length).
    */
  private val Edges = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
  /** q180 tercile count (CCNet's head/middle/tail). */
  private val NTiles = 3
  /** Smallest bucket edge ≥ n (n already clipped into range). */
  private def bucketOf(n: Column): Column =
    Edges.init.foldRight(lit(Edges.last): Column) { (e, rest) =>
      when(n <= e, lit(e)).otherwise(rest)
    }

  // q182/q183: iterated BPE tokenizer training and application — the
  // full count → pick-top-pair → re-segment loop that q130 only ran
  // one counting pass of (q182), plus segmentation of the corpus with
  // the trained merges (q183).
  //
  // Shape at 100 TB: classic BPE trainers iterate over the *distinct
  // word vocabulary weighted by corpus frequency*, never the corpus
  // itself — the word-count table is corpus-bounded (vocabulary grows
  // ~O(sqrt(corpus)) by Heaps' law), so after the single corpus-wide
  // counting shuffle every merge round touches only that compact
  // table: one map-side-combined pair aggregation, a 1-row driver
  // collect of the argmax pair (the only driver state, as in q175's
  // 4-weight model), and a codegen'd map applying the merge with the
  // chosen pair folded in as a string literal. Each round's vocab is
  // persisted and the predecessor unpersisted, so lineage stays one
  // map deep. Applying the trained tokenizer (q183) is again
  // vocab-sized: corpus symbol statistics are Σ freq per symbol over
  // the final segmentation — the corpus itself is never re-scanned.
  //
  // Determinism/portability: a word's segmentation is the pipe-framed
  // string `|s1||s2||…|` — merging pair (a, b) is then literal
  // `replace(repr, '|a||b|', '|ab|')`, and both Spark and DuckDB scan
  // replace() left-to-right resuming AFTER each replacement, which IS
  // BPE's greedy merge order (verified: both engines give
  // `|aa||a|` for (a,a) on `|a||a||a|`). Ties on pair count break by
  // (a, b) lexicographic; the oracles replay the identical 8 merges as
  // chained CTEs (the q175 trajectory-reproducibility pattern).

  /** Merge rounds trained (vocab budget = 8 new symbols). */
  private val Merges = 8

  /** Corpus word counts, restricted to ^[a-z]{2,}$ so the pipe
    * framing can never collide with symbol bytes.
    */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    Tables.docsParallel(s, d)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Trained-trajectory memo, keyed on the corpus identity
    * (documents.parquet path + mtime + length, so a regenerated file
    * in the same JVM never serves stale merges). The trajectory is
    * the tokenizer's `merges.txt` — a handful of driver-side tuples,
    * the canonical reusable training artifact. q182 (the trainer)
    * always retrains and refreshes the memo, so its benchmarked cost
    * stays the true training cost; q183 (the applier) replays the
    * merges — exactly how a tokenizer is used in production (train
    * once, apply from merges.txt) — training them on demand when this
    * JVM hasn't. Timing symmetry (bench/STABILITY.md): the harnesses
    * warm this memo untimed (`Registry.timingPrep`) and q183's
    * generated oracle applies the same merges as literals, so both
    * engines time apply-only and the measurement is run-order-free.
    */
  private val trajCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long, Long), Seq[(Long, String, String, Long)]]()

  private def corpusKey(s: SparkSession, d: String): (String, Long, Long, Long) =
    // per-part-file fingerprint, not the top-level status: a
    // directory-backed corpus (Spark-written documents.parquet) has
    // length 0 and coarse mtime on its own status, which could serve
    // a stale trajectory for a quickly regenerated same-size corpus
    Tables.pathFingerprint(s, s"$d/documents.parquet")

  /** The corpus's merge trajectory: memoized when the trainer already
    * ran in this JVM against this exact corpus, trained on demand
    * otherwise (deterministic either way — integer counts, ties
    * broken (a, b) lexicographic, so every caller sees the same 8
    * merges). The single source for q183's replay, its generated
    * apply-only oracle, and the Bench/JobProfile warm hook.
    */
  private def trajectoryFor(s: SparkSession, d: String)
      : Seq[(Long, String, String, Long)] =
    Option(trajCache.get(corpusKey(s, d))).getOrElse {
      val (traj, vocab) = train(s, d)
      vocab.unpersist()
      traj
    }

  /** Untimed warm hook for the timing harnesses (see
    * `Registry.timingPrep`): populates the trajectory memo so a timed
    * q183 run measures APPLY cost regardless of run order — without
    * it, a solo `SPARK_GRAFT_ONLY=q183` run would train inside the
    * timed region while a full-registry run (q182 first) would not.
    */
  private[graft] def ensureTrajectory(s: SparkSession, d: String): Unit = {
    trajectoryFor(s, d): Unit
  }

  /** Apply known merges to the char-split vocab in ONE projection —
    * per-row `replace` composition is exactly the sequential loop's
    * effect, minus its per-round argmax job + persist.
    */
  private def replayVocab(s: SparkSession, d: String,
      traj: Seq[(Long, String, String, Long)]): DataFrame = {
    val merged = traj.foldLeft[Column](
      regexp_replace(col("w"), "(.)", "|$1|")) { case (acc, (_, a, b, _)) =>
      call_function("replace", acc, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    wordCounts(s, d).select(merged.as("repr"), col("freq"))
  }

  /** Run the training loop: returns the merge trajectory and the
    * FINAL segmented vocab (persisted — caller unpersists), and
    * refreshes the trajectory memo.
    */
  // r21 note: running this loop under bytes-sized reduce coalescing
  // (parallelismFirst=false) looked like a 2× win in an in-JVM
  // alternating A/B, but a fresh-JVM interleaved referee (5 reps × 4
  // warm runs per arm) measured the OPPOSITE — 1.96 s (default) vs
  // 2.61 s (bytes-sized) medians; the in-JVM alternation had the two
  // plan variants thrashing shared session state. Measured, rejected —
  // the default parallelism-first coalescing stands here.
  private def train(s: SparkSession, d: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    var vocab = wordCounts(s, d).select(
        regexp_replace(col("w"), "(.)", "|$1|").as("repr"), col("freq"))
      .persist()
    // predecessor kept cached until the NEXT round's argmax job has
    // materialized the current vocab — that job scans the vocab
    // anyway, so it doubles as the cache materialization (a dedicated
    // count() per round paid 8 extra jobs for the same effect);
    // lineage stays at most one uncached map deep throughout
    var prev: org.apache.spark.sql.DataFrame = null
    val trajectory = (1 to Merges).map { it =>
      val (a, b, c) = vocab
        .select(col("freq"),
          expr("split(trim(BOTH '|' FROM repr), '\\\\|\\\\|')").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(l)-1), i -> struct(l[i-1] AS a, l[i] AS b))"))
          .as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"), col("freq"))
        .groupBy("a", "b").agg(sum("freq").as("c"))
        .orderBy(desc("c"), col("a"), col("b"))
        .limit(1).as[(String, String, Long)].head()
      // the argmax above just materialized `vocab`'s cache — the
      // previous round's cache has no remaining consumer
      if (prev != null) prev.unpersist()
      prev = vocab
      vocab = prev.withColumn("repr",
          expr(s"replace(repr, '|$a||$b|', '|$a$b|')"))
        .persist()
      (it.toLong, a, b, c)
    }
    vocab.count() // materialize the final vocab, then free its parent
    if (prev != null) prev.unpersist()
    trajCache.put(corpusKey(s, d), trajectory)
    (trajectory, vocab)
  }

  /** The shared oracle CTE chain: w (word counts), v0 (char-split
    * framing), then p/m/v per merge round — vMerges is the final
    * segmented vocabulary.
    */
  private def trainCtes: String = {
    val ctes = new StringBuilder("""
        w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE regexp_matches(word, '^[a-z]+$') AND length(word) >= 2
              GROUP BY 1),
        v0 AS (SELECT regexp_replace(word, '(.)', '|\1|', 'g') AS repr, freq
               FROM w)""")
    for (i <- 1 to Merges) {
      ctes.append(s""",
        p$i AS (SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS c
                FROM (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr,
                             freq
                      FROM (SELECT string_split(trim(repr, '|'), '||') AS l,
                                   freq FROM v${i - 1})
                      WHERE len(l) >= 2)
                GROUP BY 1, 2),
        m$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
        v$i AS (SELECT replace(repr, '|' || m.a || '||' || m.b || '|',
                               '|' || m.a || m.b || '|') AS repr, freq
                FROM v${i - 1} CROSS JOIN m$i m)""")
    }
    "WITH " + ctes
  }

  val queries: Map[String, Q] = Map(
    // ---- exact dedup: hash-groupBy ---------------------------------
    "q21_doc_exact_dedup" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select("keep_id", "n_copies")
          .orderBy("keep_id"),
      oracle = Some("""
        SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ---- token counting --------------------------------------------
    "q22_doc_tokens" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .select(
            col("doc_id"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
            size(TextFns.tokensWs(col("text"))).cast("long").as("n_ws_tokens"),
            length(col("text")).cast("long").as("n_chars_actual"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(string_split_regex(text, '\s+')) AS n_ws_tokens,
               length(text) AS n_chars_actual
        FROM documents ORDER BY doc_id""")),

    // ---- quality scoring -------------------------------------------
    "q23_doc_quality" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars_actual"),
            TextFns.punctRatio(col("text")).as("punct_ratio"),
            TextFns.meanTokenLength(col("text")).as("mean_tok_len"),
            TextFns.stopwordRatio(col("text"),
              Seq("the", "a", "of", "and", "to")).as("stop_ratio"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               length(text) AS n_chars_actual,
               round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / length(text), 4)
                 AS punct_ratio,
               round((length(text) - (length(text) - length(replace(text, ' ', ''))))
                 / ((length(text) - length(replace(text, ' ', ''))) + 1), 4) AS mean_tok_len,
               round(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'and', 'to')))
                 / len(string_split(text, ' ')), 4) AS stop_ratio
        FROM documents ORDER BY doc_id""")),

    // ---- language-ID heuristic -------------------------------------
    "q24_doc_langid" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .withColumn("t", TextFns.tokens(col("text")))
          .select(
            col("doc_id"),
            TextFns.langScoreFromTokens(col("t"), "en").cast("long").as("s_en"),
            TextFns.langScoreFromTokens(col("t"), "de").cast("long").as("s_de"),
            TextFns.langScoreFromTokens(col("t"), "fr").cast("long").as("s_fr"),
            TextFns.langIdentifyFromTokens(col("t")).as("pred_lang"))
          .orderBy("doc_id"),
      oracle = Some {
        def score(words: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
        val en = score(TextFns.langMarkers("en"))
        val de = score(TextFns.langMarkers("de"))
        val fr = score(TextFns.langMarkers("fr"))
        s"""
        SELECT doc_id, $en AS s_en, $de AS s_de, $fr AS s_fr,
               CASE WHEN $en >= $de AND $en >= $fr THEN 'en'
                    WHEN $de >= $fr THEN 'de'
                    ELSE 'fr' END AS pred_lang
        FROM documents ORDER BY doc_id"""
      }),

    // ---- document fingerprinting -----------------------------------
    "q25_doc_fingerprint" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .select(
            col("doc_id"),
            TextFns.fingerprint(col("text")).as("fp"),
            substring(TextFns.fingerprint(col("text")), 1, 8).as("fp_prefix"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 8) AS fp_prefix
        FROM documents ORDER BY doc_id""")),

    // ---- exact n-gram Jaccard within source ------------------------
    "q28_ngram_jaccard" -> Q(
      impl = (s, d) => {
        // Jaccard counts DISTINCT shingle sets — and distinctness per
        // (doc, shingle) never crosses documents, so each doc's set is
        // built inside a typed flatMap (local hash set, no corpus-wide
        // dedup shuffle), then reduced to 64-bit xxhash64 ints: every
        // downstream shuffle (self-join sides, sizes) moves 8-byte
        // native keys instead of n-gram strings. The hash is internal
        // identity only, so the oracle joins raw shingle strings —
        // intersection counts agree up to negligible 64-bit collisions.
        // Partition by the JOIN key (source, sh) up front: both
        // self-join sides reuse this exact partitioning, so the
        // persisted frame is shuffled once, not twice.
        val sh = TextFns
          .distinctShinglesBySource(Tables.docsParallel(s, d), 2)
          .select(col("doc_id"), col("source"), xxhash64(col("shs")).as("sh"))
          .repartition(col("source"), col("sh"))
          .persist()
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val x = sh.toDF("a", "source", "sh")
        val y = sh.toDF("b", "source", "sh")
        val inter = x.join(y, Seq("source", "sh"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b")
          .agg(count(lit(1)).as("c"))
        val j = inter
          .join(sizes.toDF("a", "na"), "a")
          .join(sizes.toDF("b", "nb"), "b")
          .withColumn("jaccard", round(col("c") / (col("na") + col("nb") - col("c")), 4))
          .filter(col("jaccard") >= 0.05)
        j.select("a", "b", "jaccard").orderBy("a", "b")
      },
      oracle = Some(s"""
        WITH ${shingleCtes(2, withSource = true)},
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
          FROM sh x JOIN sh y
            ON x.source = y.source AND x.sh = y.sh AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
        SELECT a, b, round(c / (sa.n + sb.n - c), 4) AS jaccard
        FROM inter
          JOIN sizes sa ON sa.doc_id = a
          JOIN sizes sb ON sb.doc_id = b
        WHERE round(c / (sa.n + sb.n - c), 4) >= 0.05
        ORDER BY a, b""")),

    // ---- multimodal binary columns: REAL header decode. Payloads
    // carry byte-exact PNG/GIF/BMP headers (format rotates by doc_id)
    // and the decoder sniffs magic bytes + extracts dimensions at each
    // format's offsets/endianness. The oracle recomputes dims from the
    // generator formulas and size from text length + per-format header
    // size — a wrong offset or endianness on either side breaks the
    // hash match -----------------------------------------------------
    "q32_media_decode" -> Q(
      impl = (s, d) => Multimodal.decodeStats(s, d),
      oracle = Some("""
        SELECT source,
               CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                 WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' ELSE 'wav' END AS format,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(CASE WHEN doc_id % 5 = 4 THEN 0
                 ELSE 1 + doc_id % 1920 END) AS BIGINT) AS sum_width,
               CAST(sum(CASE WHEN doc_id % 5 = 4 THEN 0
                 ELSE 1 + (doc_id * 7) % 1080 END) AS BIGINT) AS sum_height,
               CAST(sum(CASE WHEN doc_id % 5 = 4
                 THEN octet_length(encode(text)) * 1000 // 32000
                 ELSE 0 END) AS BIGINT) AS sum_duration_ms,
               CAST(sum(octet_length(encode(text)) +
                 CASE doc_id % 5 WHEN 0 THEN 33 WHEN 1 THEN 13
                   WHEN 2 THEN 26 WHEN 3 THEN 39 ELSE 44 END) AS BIGINT) AS sum_bytes
        FROM documents
        GROUP BY 1, 2 ORDER BY source, format""")),

    // ---- BPE-ish regex tokenization --------------------------------
    "q52_bpe_tokens" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(lower(col("text")),
              lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
              .cast("long").as("n_bpe_tokens"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                 AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // ---- TF-IDF: top-3 terms per document ---------------------------
    "q66_tfidf" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val docs = Tables.load(s, d, "documents")
        // Term frequency is intra-document state, so it aggregates
        // LOCALLY in one pass over the scan (the signaturesFromTokens
        // policy): no token explode through Generate and no corpus-
        // sized (doc, token) shuffle — the first shuffle in the plan
        // is the vocab-sized df aggregation. Raw scan, not
        // docsParallel: per-row work is a hash-map count, which the
        // scan's own splits parallelize at any real volume
        // (referee-measured ~2.4x on the query at sf0.1). Persisted
        // because both the scoring join and the df aggregation
        // consume it.
        val tf = Tables.parallelizedLike(s, d, "documents")(
          docs.select(col("doc_id"), col("text")))
          .as[(Long, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, text) =>
              if (text == null) Iterator.empty
              else {
                val m = new java.util.HashMap[String, Long]()
                text.split(" ", -1).foreach(w => m.merge(w, 1L, _ + _))
                val b = Seq.newBuilder[(Long, String, Long)]
                m.forEach((tok, c) => b += ((id, tok, c)))
                b.result()
              }
            }
          }.toDF("doc_id", "tok", "tf").persist()
        val nDocs = docs.count()
        // df collected to the driver and broadcast as a lookup map:
        // the identical vocab-sized payload the previous shape shipped
        // to every executor as broadcast(df_) for a scoring join
        // (Heaps'-law bounded at any corpus size), now keyed so
        // scoring AND per-doc top-3 run inside the tf partitions. A
        // document's tf rows live in exactly one partition (built
        // there by the TF pass), so partition-local top-3 is globally
        // correct — this removes the corpus-sized (doc, tok, score)
        // shuffle + sort the rank window paid; the only shuffles left
        // are the vocab-sized df aggregation and the 3-rows-per-doc
        // output ORDER BY (referee: 1.35 s -> measured below at sf1).
        val dfMap = tf.groupBy("tok").agg(count(lit(1)).as("df"))
          .as[(String, Long)].collect().toMap
        val dfBc = s.sparkContext.broadcast(dfMap)
        val topk = tf.as[(Long, String, Long)].mapPartitions { it =>
          val dfB = dfBc.value
          val u8 = java.nio.charset.StandardCharsets.UTF_8
          // Spark-identical semantics, partition-local: score =
          // round(tf * ln(n_docs / df), 4) with Round's HALF_UP on
          // the double's decimal repr; ties on score break by tok in
          // BINARY (UTF8String byte-wise) order, matching the window
          // shape's `col("tok").asc`
          def beats(s1: Double, t1: String, s2: Double, t2: String): Boolean =
            s1 > s2 || (s1 == s2 && java.util.Arrays.compareUnsigned(
              t1.getBytes(u8), t2.getBytes(u8)) < 0)
          final class Top3 {
            val sc = new Array[Double](3)
            val tk = new Array[String](3)
            var n = 0
            def offer(sv: Double, t: String): Unit = {
              var pos = n
              while (pos > 0 && beats(sv, t, sc(pos - 1), tk(pos - 1)))
                pos -= 1
              if (pos < 3) {
                var j = math.min(n, 2)
                while (j > pos) { sc(j) = sc(j - 1); tk(j) = tk(j - 1); j -= 1 }
                sc(pos) = sv; tk(pos) = t
                if (n < 3) n += 1
              }
            }
          }
          val best = new java.util.HashMap[Long, Top3]()
          it.foreach { case (id, tok, c) =>
            val sv = java.math.BigDecimal
              .valueOf(c.toDouble * math.log(nDocs.toDouble / dfB(tok).toDouble))
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            best.computeIfAbsent(id, _ => new Top3).offer(sv, tok)
          }
          val out = Seq.newBuilder[(Long, Long, String, Double)]
          best.forEach { (id, t3) =>
            var i = 0
            while (i < t3.n) {
              out += ((id, (i + 1).toLong, t3.tk(i), t3.sc(i)))
              i += 1
            }
          }
          out.result().iterator
        }.toDF("doc_id", "rk", "tok", "score")
        topk.orderBy("doc_id", "rk")
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok,
                 round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
          FROM tf JOIN df USING (tok) CROSS JOIN n),
        ranked AS (
          SELECT doc_id, tok, score, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
          FROM scored)
        SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, score
        FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // ---- corpus token frequency (Zipf head). The head is taken with
    // orderBy().limit(50) — per-partition partial top-k + one 50-row
    // merge (TakeOrderedAndProject) — so the full vocabulary never
    // funnels through a single-task window; the rank window then runs
    // over just the 50 surviving rows -------------------------------
    "q67_token_zipf" -> Q(
      impl = (s, d) => {
        val head = Tables.docsParallel(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc)
          .limit(50)
        head
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
          .select("rank", "tok", "cnt")
          .orderBy("rank")
      },
      oracle = Some("""
        WITH c AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok),
        r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
              FROM c)
        SELECT CAST(rank AS BIGINT) AS rank, tok, cnt
        FROM r WHERE rank <= 50 ORDER BY rank""")),

    // ---- multimodal frame sampling: binary payload → per-frame rows
    // (sequence + posexplode = the UDTF-shaped fan-out a video frame
    // sampler needs; frame extraction itself is the documented stub) -
    "q72_frames" -> Q(
      impl = (s, d) => {
        val media = Tables.load(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .withColumn("n_frames", expr("octet_length(payload) div 100"))
        media.filter(col("n_frames") > 0)
          .select(col("doc_id"), col("n_frames"),
            explode(expr("sequence(0, n_frames - 1)")).as("frame_no"))
          .withColumn("frame_off", col("frame_no") * 100)
          .groupBy("doc_id", "n_frames")
          .agg(sum("frame_off").as("sum_off"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id, octet_length(encode(text)) // 100 AS n_frames
          FROM documents)
        SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
               CAST(n_frames * (n_frames - 1) / 2 * 100 AS BIGINT) AS sum_off
        FROM m WHERE n_frames > 0 ORDER BY doc_id""")),

    // ---- winnowing document fingerprints (MOSS-style): hash every
    // word 4-gram, slide a 5-gram window over the hash sequence, keep
    // the window minimum (ties → rightmost = smallest position works
    // identically in both engines via (hash, -pos) ordering), distinct
    // per doc. Robust local fingerprints for plagiarism/overlap
    // detection — selection is a windowed min, one shuffle on doc_id -
    "q84_winnowing" -> Q(
      impl = (s, d) =>
        // one-pass winnowing (round 18): gram hashes, full-window
        // (h, -pos) min, and the per-doc distinct all run locally in
        // Curation.winnowFingerprints — map-only where the windowed
        // form shuffled the full gram stream by doc_id first (parity
        // pinned by WinnowOnePassSpec; the oracle replays the
        // declarative construction unchanged)
        graft.corpus.Curation.winnowFingerprints(
          Tables.docsParallel(s, d)
            .select(col("doc_id"),
              graft.functions.TextFns.tokens(col("text")).as("t")),
          "doc_id", "t", 4, 5)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"),
            max("fp").as("max_fp"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 1))) AS i
                FROM toks),
        g AS (SELECT doc_id, i - 1 AS pos,
                     CAST('0x' || substr(md5(
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                     ), 1, 12) AS BIGINT) AS h
              FROM idx WHERE i + 3 <= len(t)),
        wm AS (SELECT doc_id, pos,
                      min(struct_pack(h := h, np := -pos)) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
                      count(*) OVER (PARTITION BY doc_id) AS n_grams
               FROM g),
        fp AS (SELECT DISTINCT doc_id, wmin.h AS fp
               FROM wm WHERE pos <= n_grams - 5)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
               min(fp) AS min_fp, max(fp) AS max_fp
        FROM fp GROUP BY doc_id ORDER BY doc_id""")),

    // ---- sequence packing (concat-and-chunk, the standard LLM
    // pretraining layout): documents are concatenated per source in
    // doc_id order and cut into fixed 4096-token windows; each doc is
    // assigned the window its first token lands in. Scale shape: a
    // running-sum window partitioned by the ~20 sources would
    // serialize each source through ONE task; `GroupedPrefixSum`
    // range-partitions on (source, doc_id) so a 10 TB source spans
    // many tasks, with per-partition partials + broadcast offsets
    // supplying the carry — the GlobalRank pattern generalized to
    // grouped running sums --------------------------------------------
    "q93_sequence_packing" -> Q(
      impl = (s, d) => {
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
        GroupedPrefixSum.withRunningSum(toks, "source", Seq(col("doc_id")),
            "n_tok", "cum_before", inclusive = false)
          .withColumn("bin", expr(s"cum_before div $PackWindow"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"))
          .orderBy("source", "bin")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT source, n_tok,
                 CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          FROM t)
        SELECT source, cum_before // $PackWindow AS bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        FROM c GROUP BY 1, 2 ORDER BY source, bin""")),

    // ---- repetition filter (Gopher-style quality signal): fraction
    // of duplicated word-3-gram shingles per document — high values
    // flag boilerplate/spam for removal. One explode + one groupBy,
    // shuffle on doc_id only ----------------------------------------
    "q95_repetition_filter" -> Q(
      impl = (s, d) => {
        val sh = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
          .select(col("doc_id"),
            explode(TextFns.wordShinglesFromTokens(col("t"), 3)).as("sh"))
        sh.groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            countDistinct("sh").as("n_unique"))
          .withColumn("rep_ratio",
            round(lit(1.0) - col("n_unique") / col("n_shingles"), 4))
          .withColumn("flagged", col("rep_ratio") > RepThreshold)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                       CAST(count(DISTINCT sh) AS BIGINT) AS n_unique
                FROM sh GROUP BY doc_id)
        SELECT doc_id, n_shingles, n_unique,
               round(1.0 - CAST(n_unique AS DOUBLE) / n_shingles, 4)
                 AS rep_ratio,
               round(1.0 - CAST(n_unique AS DOUBLE) / n_shingles, 4)
                 > $RepThreshold AS flagged
        FROM agg ORDER BY doc_id""")),

    // ---- benchmark contamination check: fraction of each training
    // document's distinct word-3-gram shingles that appear anywhere in
    // the held-out eval source — the standard pre-release test-set
    // leakage scan. Scale shape: each document's DISTINCT shingle set
    // is built inside a typed flatMap (per-doc hash set — the dedup
    // that used to be a corpus-wide shuffle completes locally, since
    // distinctness per (doc, shingle) never crosses documents), then
    // reduced to 64-bit xxhash64 keys — codegen'd native longs, 8-byte
    // shuffle keys — and the eval shingle set, tiny next to the
    // training corpus, is broadcast so the corpus-side scan never
    // shuffles for the probe. The hash is pure internal identity
    // (only counts are emitted), so the oracle compares raw shingle
    // strings — equal up to negligible 64-bit collisions ---------------
    "q96_contamination_check" -> Q(
      impl = (s, d) => {
        val sh = TextFns
          .distinctShinglesBySource(Tables.docsParallel(s, d), 3)
          .select(col("doc_id"), col("source"), xxhash64(col("shs")).as("h"))
          .persist() // feeds both the eval set and the training side
        val evalSh = sh.filter(col("source") === EvalSource)
          .select("h").distinct()
        val train = sh.filter(col("source") =!= EvalSource)
        val sizes = train.groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"))
        val hits = train.join(broadcast(evalSh), "h")
          .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
        sizes.join(hits, Seq("doc_id"), "left")
          .withColumn("n_contam", coalesce(col("__hits"), lit(0L)))
          .withColumn("contam_frac",
            round(col("n_contam") / col("n_shingles"), 4))
          .withColumn("flagged", col("contam_frac") > ContamThreshold)
          .select("doc_id", "n_shingles", "n_contam", "contam_frac", "flagged")
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, source, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id, source,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS h
               FROM idx WHERE i + 2 <= len(t)),
        ev AS (SELECT DISTINCT h FROM sh WHERE source = '$EvalSource'),
        train AS (SELECT doc_id, h FROM sh WHERE source <> '$EvalSource'),
        sizes AS (SELECT doc_id, count(*) AS n FROM train GROUP BY 1),
        hits AS (SELECT t.doc_id, count(*) AS c
                 FROM train t JOIN ev e ON e.h = t.h GROUP BY 1)
        SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_shingles,
               CAST(coalesce(h.c, 0) AS BIGINT) AS n_contam,
               round(coalesce(h.c, 0) / s.n, 4) AS contam_frac,
               round(coalesce(h.c, 0) / s.n, 4) > $ContamThreshold AS flagged
        FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
        ORDER BY s.doc_id""")),

    // ---- source-priority exact dedup: when identical content appears
    // in several sources, keep the copy from the most-trusted source
    // (curated beats crawl) — min over (priority, doc_id) per content
    // hash, doc_id as the total-order tiebreak. One hash-groupBy with
    // map-side partial agg; min_by carries only the winner, never the
    // copies -----------------------------------------------------------
    "q97_priority_dedup" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("prio",
            regexp_extract(col("source"), "(\\d+)$", 1).cast("long"))
        // composite scalar order key: (priority, doc_id) packed into
        // one BIGINT — doc_id is far below 10^12 at any harness SF
        val key = col("prio") * lit(1000000000000L) + col("doc_id")
        docs.groupBy(md5(col("text")).as("content_hash"))
          .agg(
            min_by(col("doc_id"), key).as("kept_doc"),
            min_by(col("source"), key).as("kept_source"),
            count(lit(1)).as("n_copies"))
          .orderBy("content_hash")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source, text,
                 CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT)
                   * 1000000000000 + doc_id AS k
          FROM documents)
        SELECT md5(text) AS content_hash,
               arg_min(doc_id, k) AS kept_doc,
               arg_min(source, k) AS kept_source,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM d GROUP BY 1 ORDER BY content_hash""")),

    // ---- unigram-LM quality score (CCNet-style): corpus unigram
    // frequencies → per-doc mean token negative log-probability. Low
    // score = common filler, high = rare-token soup; the standard
    // cheap LM proxy for quality filtering. Vocab is corpus-bounded
    // (≪ corpus size) → broadcast; the scalar token total rides the
    // same broadcast. Two shuffles total (vocab build, per-doc agg) --
    "q103_unigram_logprob" -> Q(
      impl = (s, d) => {
        val toks = Tables.docsParallel(s, d)
          .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = toks.agg(count(lit(1)).as("tot"))
        toks.join(broadcast(vocab), "tok")
          .crossJoin(broadcast(tot))
          .groupBy("doc_id")
          .agg(round(avg(log(col("tot") / col("c"))), 4).as("nll"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        v AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        t AS (SELECT count(*) AS tot FROM toks)
        SELECT doc_id, round(avg(ln(tot / c)), 4) AS nll
        FROM toks JOIN v USING (tok) CROSS JOIN t
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- stopword/boilerplate scrub: drop the given token list,
    // re-join, account for what was removed. Pure per-row higher-order
    // array ops (filter + array_join) — codegen'd, zero shuffle before
    // the output sort. The template-removal step of web-corpus
    // cleaning, with the scrub list as a parameter -------------------
    "q104_boilerplate_scrub" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val t = TextFns.tokens(col("text"))
        val kept = filter(t, tok => !tok.isin("a", "the"))
        docs.select(col("doc_id"),
            (size(t) - size(kept)).cast("long").as("n_removed"),
            md5(array_join(kept, " ")).as("clean_hash"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH f AS (SELECT doc_id, string_split(text, ' ') AS t,
                          list_filter(string_split(text, ' '),
                                      tok -> tok NOT IN ('a', 'the')) AS kept
                   FROM documents)
        SELECT doc_id,
               CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
               md5(array_to_string(kept, ' ')) AS clean_hash
        FROM f ORDER BY doc_id""")),

    // ---- chunk-level exact dedup with reassembly: split every doc
    // into fixed 4-token windows, keep a chunk only in the lowest
    // doc_id that contains it anywhere in the corpus, re-join the
    // survivors in document order. Scale shape: one shuffle on the
    // chunk text to elect owners (groupBy min), one shuffle to join
    // ownership back — both keyed on the chunk, so near-duplicate
    // boilerplate concentrates as key skew that AQE splits; no
    // windows, no per-doc sort (array_sort of the collected
    // (pos, chunk) structs is per-row work on bounded doc length) ----
    "q105_chunk_dedup" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val nChunks = ceil(size(col("t")) / lit(DedupChunkW.toDouble)).cast("int")
        val chunks = docs.select(col("doc_id"),
            posexplode(transform(sequence(lit(0), nChunks - 1),
              i => concat_ws(" ", slice(col("t"), i * DedupChunkW + 1, lit(DedupChunkW))))))
          .toDF("doc_id", "pos", "chunk")
        val owners = chunks.groupBy("chunk").agg(min("doc_id").as("owner"))
        val kept = col("doc_id") === col("owner")
        chunks.join(owners, "chunk")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
            md5(array_join(
              transform(
                array_sort(collect_list(when(kept,
                  struct(col("pos"), col("chunk"))))),
                x => x.getField("chunk")),
              " ")).as("clean_hash"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        i AS (SELECT doc_id, t,
                     unnest(range(0, CAST(ceil(len(t) / $DedupChunkW.0) AS BIGINT)))
                       AS pos
              FROM d),
        c AS (SELECT doc_id, pos,
                     array_to_string(t[pos*$DedupChunkW+1 : pos*$DedupChunkW+$DedupChunkW],
                                     ' ') AS chunk
              FROM i),
        o AS (SELECT chunk, min(doc_id) AS owner FROM c GROUP BY 1)
        SELECT c.doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN c.doc_id = o.owner THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(
                 CASE WHEN c.doc_id = o.owner THEN c.chunk END,
                 ' ' ORDER BY c.pos), '')) AS clean_hash
        FROM c JOIN o USING (chunk)
        GROUP BY c.doc_id ORDER BY c.doc_id""")),

    // ---- heavy-hitter vocabulary via bounded sketch + exact verify:
    // pass 1 runs the mergeable Misra–Gries summary as a regular
    // partial/final aggregation — per-partition buffers and the one
    // merged buffer are ≤ 64 entries no matter the vocabulary, so
    // pass 1 never shuffles more than a constant per partition. The
    // bounded candidate list (≤ 64, a superset of every token with
    // freq ≥ N/50 by the sketch guarantee) is collected as driver
    // metadata; pass 2 recounts ONLY candidates exactly and applies
    // the exact integer threshold. Net: exact heavy hitters with no
    // full-vocabulary shuffle — the groupBy in pass 2 aggregates a
    // ≤ 64-key set ----------------------------------------------------
    "q106_heavy_hitters" -> Q(
      impl = (s, d) => {
        val toks = Tables.docsParallel(s, d)
          .select(explode(TextFns.tokens(col("text"))).as("tok"))
        val mg = udaf(new MisraGries(MgCapacity))
        // sketch + total token count in ONE aggregation pass: both are
        // corpus-wide aggregates over the same exploded stream, and the
        // former separate toks.count() re-scanned and re-exploded the
        // whole corpus for one long (r21; 3 corpus passes → 2 — the
        // exact candidate recount below is the irreducible second)
        val head = toks.agg(mg(col("tok")).as("m"),
            count(lit(1)).as("n")).head()
        val cands = head.getMap[String, Long](0).keys.toSeq
        val total = head.getLong(1)
        toks.filter(col("tok").isin(cands: _*))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * HhDenom >= total)
          .orderBy("tok")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        t AS (SELECT count(*) AS n FROM toks)
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM toks CROSS JOIN t
        GROUP BY tok, n
        HAVING count(*) * $HhDenom >= n
        ORDER BY tok""")),

    // ---- bloom-gated decontamination: build a bloom over the eval
    // source's shingle hashes (distributed partial+final aggregate,
    // constant-size result), prefilter the corpus shingles with the
    // codegen'd might_contain probe, then exact-verify ONLY the
    // survivors against the eval set. The bloom admits false
    // positives but never false negatives, so the final answer is
    // EXACT — the prefilter just keeps the verify join's corpus side
    // to ~fpp of its size. This is q96's scale path when the eval
    // suite outgrows a broadcastable exact set: filter bytes stay
    // constant-size no matter the corpus. Output: per contaminated
    // doc, the count of distinct eval shingles it contains ----------
    "q109_bloom_decontaminate" -> Q(
      impl = (s, d) => {
        // per-doc distinct shingle sets build locally (no dedup
        // shuffle); 64-bit xxhash64 keys are internal identity only,
        // so the oracle joins raw shingle strings. The source filter
        // sits BELOW the shingle pass: a typed flatMap is a pushdown
        // barrier, so filtering the shingled frame made the eval-side
        // job re-shingle the whole corpus — filtering the docs first
        // means the eval job shingles only the eval source (a pruned
        // parquet scan) and the corpus is shingled exactly once
        // (referee: 1.4 s -> 0.9 s at sf1-docs). parallelized():
        // round-robin only when the scan itself yields too few splits
        // for the box (the sf1 4-file layout), a no-op at real volume.
        val docs = Tables.load(s, d, "documents")
        def sh(pred: org.apache.spark.sql.Column) = TextFns
          .distinctShinglesBySource(
            Tables.parallelizedLike(s, d, "documents")(docs.filter(pred)), 3)
          .select(col("doc_id"), xxhash64(col("shs")).as("h"))
        // AutoSize + tiered eval side (BloomDecontaminate round-14):
        // the bounded tier collects the eval hashes in ONE narrow job,
        // builds the exactly-sized bloom on the driver, and reuses the
        // collected set as the broadcast verify relation — a fixed
        // 200k sizing paid ~350 KB of bloom construction plus two
        // extra eval-side jobs for a 10k-shingle toy eval set
        graft.operators.BloomDecontaminate
          .verifiedFlags(
            sh(col("source") =!= EvalSource), "h",
            sh(col("source") === EvalSource).select("h"), "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_eval_shingles"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                   FROM documents),
        idx AS (SELECT doc_id, source, tk,
                       unnest(range(1, greatest(len(tk) - 1, 1))) AS i
                FROM t),
        sh AS (SELECT DISTINCT doc_id, source,
                      tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS h
               FROM idx WHERE i + 2 <= len(tk)),
        ev AS (SELECT DISTINCT h FROM sh WHERE source = '$EvalSource')
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_shingles
        FROM (SELECT doc_id, h FROM sh WHERE source <> '$EvalSource') s
        JOIN ev USING (h)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- per-source quality stratification (CCNet head/middle/tail):
    // rank every doc within its source by a quality proxy and cut the
    // ranking into three equal-width buckets. The rank comes from
    // `GroupedPrefixSum` (range-partition on (source, quality, id) +
    // per-partition partials + broadcast carry offsets), NEVER from a
    // per-source window — the window form sorts a whole source in one
    // task, the q81-class scale-killer. The bucket formula
    // ((rank-1)*3 div cnt)+1 is pure integer arithmetic, so both
    // engines agree exactly --------------------------------------------
    "q110_quality_strata" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("one", lit(1L))
        val ranked = graft.operators.GroupedPrefixSum.withRunningSum(
          docs, "source", Seq(col("n_chars"), col("doc_id")),
          "one", "rk", inclusive = true)
        val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        ranked.join(broadcast(counts), "source")
          .select(col("doc_id"), col("source"),
            (expr("((rk - 1) * 3) div cnt") + 1L).as("bucket"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH r AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
                          count(*) OVER (PARTITION BY source) AS cnt
                   FROM documents)
        SELECT doc_id, source,
               CAST((rk - 1) * 3 // cnt + 1 AS BIGINT) AS bucket
        FROM r ORDER BY doc_id""")),

    // ---- bigram-LM doc scoring: corpus bigram + unigram counts →
    // per-doc mean conditional NLL -ln c(w1 w2)/c(w1). The q103
    // unigram proxy upgraded one order: catches word-salad documents
    // whose unigrams are individually common. Bigram extraction is a
    // per-row zip_with (codegen'd, no join); both vocab sides are
    // corpus-bounded → broadcast ------------------------------------
    "q118_bigram_logprob" -> Q(
      impl = (s, d) => {
        // Two-pass broadcast-model shape (the q141 contract): pass 1
        // builds the unigram/bigram count tables — the only shuffles,
        // both vocabulary-bounded with map-side combine — and collects
        // them to the driver; pass 2 scores every document against the
        // broadcast maps in one narrow map-only stage. This deletes
        // the corpus-sized bigram explode + two broadcast joins + the
        // per-doc hash agg of the declarative form. ln/round replicate
        // Spark's exprs exactly (StrictMath.log; BigDecimal HALF_UP),
        // so results are bit-identical to the join formulation. At
        // open-web scale a bigram table can outgrow a broadcast — the
        // fallback is the q66-style join on the gram key.
        import s.implicits._
        // Count pass gets the repartitioned scan (CPU-heavy fan-out);
        // the scoring pass reads the scan directly — its per-doc work
        // is one hash lookup per bigram, so the scan's own splits are
        // parallelism enough and no exchange or persist is paid.
        val docs = Tables.docsParallel(s, d)
          .select(col("doc_id"), col("text")).as[(Long, String)]
        // Unigram and bigram counts share ONE pass, shuffle, and map:
        // tokens are space-split so a unigram key can never contain a
        // space while a bigram key always does — no collisions.
        val counts = docs.flatMap { case (_, text) =>
            val t = text.split(" ", -1)
            val m = new scala.collection.mutable.AnyRefMap[String, Long]()
            var i = 0
            while (i < t.length) {
              m.update(t(i), m.getOrElse(t(i), 0L) + 1L)
              if (i + 1 < t.length) {
                val k = t(i) + " " + t(i + 1)
                m.update(k, m.getOrElse(k, 0L) + 1L)
              }
              i += 1
            }
            m.iterator
          }.toDF("k", "c").groupBy("k").agg(sum("c").as("c"))
          .as[(String, Long)].collect()
        val table = new scala.collection.mutable.AnyRefMap[String, Long](counts.length * 2)
        counts.foreach { case (k, c) => table.update(k, c) }
        val bc = s.sparkContext.broadcast(table)
        val scoreDocs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        scoreDocs.flatMap { case (id, text) =>
          val m = bc.value
          val t = text.split(" ", -1)
          if (t.length < 2) Iterator.empty
          else {
            var sumLn = 0.0
            var i = 0
            while (i + 1 < t.length) {
              sumLn += StrictMath.log(
                m(t(i)).toDouble / m(t(i) + " " + t(i + 1)))
              i += 1
            }
            val n = t.length - 1
            val nll = java.math.BigDecimal.valueOf(sumLn / n)
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            Iterator.single((id, n.toLong, nll))
          }
        }.toDF("doc_id", "n_bigrams", "nll")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
               FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)),
        uni AS (SELECT tok, count(*) AS c1
                FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
        big AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY 1, 2)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln(CAST(c1 AS DOUBLE) / c2)), 4) AS nll
        FROM bi JOIN big USING (w1, w2) JOIN uni ON uni.tok = bi.w1
        GROUP BY doc_id ORDER BY doc_id"""),
      bench = true),

    // ---- skyline (Pareto frontier) per source over (n_chars,
    // n_tokens): the classic OLAP maximal-vector query. Reduce to one
    // point per x (max y), then ONE exclusive grouped prefix-MAX over
    // x DESC — a point survives iff its y beats every y at larger x.
    // O(n log n) by sort instead of the quadratic dominance join;
    // the scan is the range-partitioned operator, not a window ------
    "q119_skyline" -> Q(
      impl = (s, d) => {
        val pts = Tables.load(s, d, "documents")
          .select(col("source"), col("n_chars").as("x"),
            TextFns.tokenCount(col("text")).cast("long").as("y"))
          .groupBy("source", "x").agg(max("y").as("y"))
        val scanned = GroupedPrefixSum.withRunningMax(
          pts, "source", Seq(col("x").desc), "y", "pmax", inclusive = false)
        scanned.filter(col("y") > col("pmax")) // first row: pmax = Long.MinValue
          .select(col("source"), col("x"), col("y"))
          .orderBy("source", "x")
      },
      oracle = Some("""
        WITH p AS (SELECT source, n_chars AS x,
                          CAST(max(len(string_split(text, ' '))) AS BIGINT) AS y
                   FROM documents GROUP BY 1, 2),
        m AS (SELECT *, max(y) OVER (PARTITION BY source ORDER BY x DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              FROM p)
        SELECT source, x, y FROM m
        WHERE pmax IS NULL OR y > pmax
        ORDER BY source, x"""),
      bench = true),

    // ---- per-source percentile quality gate: keep docs at or above
    // their source's p25 length — the "drop the bottom quartile of
    // each source" curation stage, with the cutoff computed per
    // source (a global cutoff would gut short-form sources). The
    // cutoff table is one row per source → broadcast back; Spark's
    // exact `percentile` ≡ DuckDB's quantile_cont (pinned by q57) ----
    "q126_quality_gate" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val cut = docs.groupBy("source")
          .agg(expr(s"percentile(n_chars, $GateQ)").as("cut"))
        docs.join(broadcast(cut), "source")
          .filter(col("n_chars") >= col("cut"))
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH cut AS (SELECT source, quantile_cont(n_chars, $GateQ) AS cut
                     FROM documents GROUP BY source)
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN cut ON cut.source = d.source
        WHERE d.n_chars >= cut.cut
        ORDER BY d.doc_id"""),
      bench = true),

    // ---- per-source token entropy: Shannon entropy of each source's
    // unigram distribution, in integer micro-nats. H = Σ (c/n)·ln(n/c)
    // is computed as Σ c·q(c,n) over per-TYPE integer terms, where
    // q = round(ln(n/c)·1e6) is quantized BEFORE summation — each q
    // depends only on the (c, n) integer pair, so both engines
    // quantize identical doubles and the running sum is pure long
    // arithmetic (order-independent). ln(n/c) ≥ 0 → the final floor
    // division agrees with Spark's truncating div. A diversity /
    // dedup-health profile per source: one explode + two hash
    // shuffles, both keyed on (source, token) then source -----------
    "q128_source_entropy" -> Q(
      impl = (s, d) => {
        val tok = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
          .select(col("source"), explode(col("t")).as("tok"))
        val cnt = tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy("source")
          .agg(sum("c").as("n"), count(lit(1)).as("n_types"))
        cnt.join(tot, "source")
          .withColumn("term", col("c") *
            expr("CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"))
          .groupBy("source").agg(sum("term").as("ts"))
          .join(tot, "source")
          .select(col("source"), expr("ts div n").as("entropy_unats"),
            col("n_types"), col("n").as("n_tokens"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1, 2),
        tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS n_types
                FROM cnt GROUP BY 1),
        terms AS (
          SELECT cnt.source,
                 cnt.c * CAST(round(ln(CAST(tot.n AS DOUBLE) / CAST(cnt.c AS DOUBLE)) * 1000000) AS BIGINT) AS term
          FROM cnt JOIN tot ON tot.source = cnt.source),
        s AS (SELECT source, CAST(sum(term) AS BIGINT) AS ts FROM terms GROUP BY 1)
        SELECT s.source, s.ts // tot.n AS entropy_unats, tot.n_types,
               tot.n AS n_tokens
        FROM s JOIN tot ON tot.source = s.source
        ORDER BY s.source"""),
      bench = true),

    // ---- adjacent-pair statistics: the counting pass of one BPE merge
    // iteration — every adjacent token pair in the corpus, top 20 by
    // frequency. The pair explode is narrow (no shuffle until the
    // count); the top-k is orderBy+limit, which Spark executes as
    // TakeOrdered (per-partition heaps + driver merge of 20-row
    // partials), never a global sort. Bigrams come from zipping the
    // array against its own 1-shifted slice: `transform(sequence(...),
    // i -> struct(t[i-1], t[i]))` computes the same pairs but lambda
    // bodies evaluate INTERPRETED (no codegen inside higher-order
    // functions) — the zip construction refereed 2.3× faster on the
    // 27 M-bigram sf10 corpus (bench/STABILITY.md, round 15).
    // arrays_zip pads the shorter side with null, so the final
    // (t[n-1], null) row is filtered — exactly the n−1 bigrams -------
    "q130_pair_counts" -> Q(
      impl = (s, d) =>
        Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
          .filter(size(col("t")) >= 2)
          .withColumn("x", col("t"))
          .withColumn("y", slice(col("t"), lit(2), size(col("t"))))
          .select(explode(arrays_zip(col("x"), col("y"))).as("p"))
          .filter(col("p.y").isNotNull)
          .select(col("p.x").as("a"), col("p.y").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("a"), col("b"))
          .limit(20),
      oracle = Some("""
        WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
        p AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
              FROM t WHERE len(l) >= 2)
        SELECT pr[1] AS a, pr[2] AS b, CAST(count(*) AS BIGINT) AS c
        FROM p GROUP BY 1, 2 ORDER BY c DESC, a, b LIMIT 20"""),
      bench = true),

    // ---- corpus novelty score: the share of a doc's distinct 3-gram
    // shingles that appear in no other doc — high novelty = unique
    // content, low = boilerplate/copies. Shingles reduce to 60-bit
    // md5-prefix ints before any shuffle (8-byte keys, same reduction
    // as q28); document frequency is one hash aggregation on the
    // shingle key, then one join back keyed the same way ------------
    "q131_novelty" -> Q(
      impl = (s, d) => {
        // per-doc distinct shingle sets build locally (no dedup
        // shuffle); 64-bit xxhash64 keys are internal identity only,
        // so the oracle joins raw shingle strings
        val sh = TextFns.distinctShingles(Tables.docsParallel(s, d), 3)
          .select(col("doc_id"), xxhash64(col("shs")).as("h"))
        val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
        sh.join(df, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
          .select(col("doc_id"), col("n_shingles"), col("n_unique"),
            expr("n_unique * 1000000 div n_shingles").as("novelty_ppm"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${shingleCtes(3)},
        shh AS (SELECT doc_id, sh AS h FROM sh),
        df AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM shh GROUP BY 1),
        agg AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_unique
                FROM shh s JOIN df ON df.h = s.h GROUP BY 1)
        SELECT doc_id, n_shingles, n_unique,
               n_unique * 1000000 // n_shingles AS novelty_ppm
        FROM agg ORDER BY doc_id"""),
      bench = true),

    // ---- vocabulary pruning: drop stopwords and corpus-rare types
    // (fewer than 3 occurrences anywhere), report per-source retained
    // token/type mass. The global type table is keyed on the token
    // (high-cardinality hash shuffle); the drop test joins token→count
    // on that same key, so the heavy explode output shuffles once ----
    "q133_vocab_prune" -> Q(
      impl = (s, d) => {
        val tok = Tables.docsParallel(s, d)
          .select(col("source"),
            explode(TextFns.tokens(col("text"))).as("tok"))
        val cnt = tok.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val global = cnt.groupBy("tok").agg(sum("c").as("cg"))
        cnt.join(global, "tok")
          .withColumn("keep",
            col("cg") >= MinTypeCount && !col("tok").isin(PruneStopwords: _*))
          .groupBy("source")
          .agg(
            sum(when(col("keep"), col("c")).otherwise(0L)).as("n_tokens_kept"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_types_kept"),
            sum(when(!col("keep"), col("c")).otherwise(0L)).as("n_tokens_dropped"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1, 2),
        g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cg FROM cnt GROUP BY 1)
        SELECT cnt.source,
               CAST(sum(CASE WHEN g.cg >= $MinTypeCount
                          AND cnt.tok NOT IN (${PruneStopwords.map(w => s"'$w'").mkString(", ")})
                        THEN cnt.c ELSE 0 END) AS BIGINT) AS n_tokens_kept,
               CAST(sum(CASE WHEN g.cg >= $MinTypeCount
                          AND cnt.tok NOT IN (${PruneStopwords.map(w => s"'$w'").mkString(", ")})
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_types_kept,
               CAST(sum(CASE WHEN g.cg >= $MinTypeCount
                          AND cnt.tok NOT IN (${PruneStopwords.map(w => s"'$w'").mkString(", ")})
                        THEN 0 ELSE cnt.c END) AS BIGINT) AS n_tokens_dropped
        FROM cnt JOIN g ON g.tok = cnt.tok
        GROUP BY 1 ORDER BY 1"""),
      bench = true),

    // ---- asymmetric containment: a is (mostly) contained in b when
    // ≥ 60% of a's rare shingles also occur in b — catches quotes and
    // subset-duplicates that symmetric Jaccard misses. Shingles with
    // df > 64 are skipped BEFORE the self-join (both the numerator
    // and denominator use the filtered set, so the semantics are
    // exact over rare shingles): the skip caps any join key's fan-out
    // at 64², which is what keeps the candidate join linear-ish at
    // corpus scale. Directional output (a→b and b→a both tested) ----
    "q135_containment" -> Q(
      impl = (s, d) => {
        // per-doc distinct shingle sets build locally (no dedup
        // shuffle); 64-bit xxhash64 keys are internal identity only,
        // so the oracle joins raw shingle strings
        val sh = TextFns.distinctShingles(Tables.docsParallel(s, d), 3)
          .select(col("doc_id"), xxhash64(col("shs")).as("h"))
        val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") <= MaxShingleDf)
        val rs = sh.join(rare, "h").select("doc_id", "h").persist()
        val na = rs.groupBy("doc_id").agg(count(lit(1)).as("na"))
        val inter = rs.toDF("a", "h")
          .join(rs.toDF("b", "h2"), col("h") === col("h2"))
          .filter(col("a") =!= col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        inter.join(na.toDF("a", "na"), "a")
          .withColumn("cont_ppm", expr("c * 1000000 div na"))
          .filter(col("cont_ppm") >= ContainmentPpm)
          .select("a", "b", "cont_ppm")
          .orderBy("a", "b")
      },
      oracle = Some(s"""
        WITH ${shingleCtes(3)},
        shh AS (SELECT doc_id, sh AS h FROM sh),
        rare AS (SELECT h FROM shh GROUP BY h
                 HAVING count(*) <= $MaxShingleDf),
        rs AS (SELECT s.doc_id, s.h FROM shh s JOIN rare r ON r.h = s.h),
        na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS na
               FROM rs GROUP BY 1),
        inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
                         CAST(count(*) AS BIGINT) AS c
                  FROM rs x JOIN rs y ON x.h = y.h AND x.doc_id <> y.doc_id
                  GROUP BY 1, 2)
        SELECT i.a, i.b, i.c * 1000000 // na.na AS cont_ppm
        FROM inter i JOIN na ON na.doc_id = i.a
        WHERE i.c * 1000000 // na.na >= $ContainmentPpm
        ORDER BY i.a, i.b"""),
      bench = true),

    // ---- lexical diversity: type-token ratio and mean token length,
    // computed array-native (no explode, no shuffle before the final
    // sort) via higher-order functions — `transform`+`aggregate` on
    // Spark, `list_transform`+`list_sum` on DuckDB ------------------
    "q136_lexical_stats" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "documents")
          .withColumn("t", TextFns.tokens(col("text")))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            size(array_distinct(col("t"))).cast("long").as("n_types"),
            expr("aggregate(transform(t, x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)")
              .as("sum_len"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
            expr("sum_len * 1000 div n_tokens").as("mean_len_milli"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        a AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(l)) AS BIGINT) AS n_types,
                     CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
                       AS sum_len
              FROM t)
        SELECT doc_id, n_tokens, n_types,
               n_types * 1000000 // n_tokens AS ttr_ppm,
               sum_len * 1000 // n_tokens AS mean_len_milli
        FROM a ORDER BY doc_id""")),

    // ---- PMI collocations: pointwise mutual information over the
    // corpus bigram table (built like q130), marginals from the same
    // table — top 20 phrase candidates with support ≥ 5. The bigram
    // count is the only corpus-sized shuffle; marginals re-aggregate
    // the (already tiny) pair table; N rides a 1-row broadcast; the
    // top-k is TakeOrdered. ln is quantized per distinct
    // (c, la, rb, N) tuple — integer inputs, identical doubles ------
    "q137_pmi_collocations" -> Q(
      impl = (s, d) => {
        // bigrams via the zipped-slice construction (q130's rationale:
        // higher-order lambda bodies are interpreted; the zip refereed
        // 2.3× faster on the sf10 corpus — bench/STABILITY.md, round 15)
        val pairs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
          .filter(size(col("t")) >= 2)
          .withColumn("x", col("t"))
          .withColumn("y", slice(col("t"), lit(2), size(col("t"))))
          .select(explode(arrays_zip(col("x"), col("y"))).as("p"))
          .filter(col("p.y").isNotNull)
          .select(col("p.x").as("a"), col("p.y").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
          .persist()
        val la = pairs.groupBy("a").agg(sum("c").as("la"))
        val rb = pairs.groupBy("b").agg(sum("c").as("rb"))
        val n = pairs.agg(sum("c").as("n"))
        pairs.filter(col("c") >= PmiMinCount)
          .join(la, "a").join(rb, "b").crossJoin(broadcast(n))
          .withColumn("pmi_unats", expr("""
            CAST(round(ln((CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                        / (CAST(la AS DOUBLE) * CAST(rb AS DOUBLE)))
                       * 1000000) AS BIGINT)"""))
          .select(col("a"), col("b"), col("c"), col("pmi_unats"))
          .orderBy(desc("pmi_unats"), col("a"), col("b"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
        p AS (SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS pr
              FROM t WHERE len(l) >= 2),
        bi AS (SELECT pr[1] AS a, pr[2] AS b, CAST(count(*) AS BIGINT) AS c
               FROM p GROUP BY 1, 2),
        la AS (SELECT a, CAST(sum(c) AS BIGINT) AS la FROM bi GROUP BY 1),
        rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS rb FROM bi GROUP BY 1),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bi)
        SELECT bi.a, bi.b, bi.c,
               CAST(round(ln((CAST(bi.c AS DOUBLE) * CAST(n.n AS DOUBLE))
                           / (CAST(la.la AS DOUBLE) * CAST(rb.rb AS DOUBLE)))
                          * 1000000) AS BIGINT) AS pmi_unats
        FROM bi JOIN la ON la.a = bi.a JOIN rb ON rb.b = bi.b, n
        WHERE bi.c >= $PmiMinCount
        ORDER BY pmi_unats DESC, bi.a, bi.b LIMIT 20"""),
      bench = true),

    // ---- token chunking: fixed 32-token windows with stride 24 (25%
    // overlap) — the context-packing stage before embedding/tokenizing
    // at scale. The chunk explode is narrow (sequence+slice per row,
    // no shuffle at all before the output sort); chunk identity is an
    // 8-hex md5 prefix so downstream exact-dedup of chunks is an
    // equi-key, not a text compare --------------------------------
    "q138_token_chunks" -> Q(
      impl = (s, d) =>
        Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
          .select(col("doc_id"), col("t"),
            explode(expr(s"sequence(1, size(t), $ChunkS)")).as("st"))
          .select(col("doc_id"),
            expr(s"CAST((st - 1) div $ChunkS AS BIGINT)").as("chunk_idx"),
            size(expr(s"slice(t, st, $ChunkW)")).cast("long").as("n_toks"),
            substring(md5(concat_ws(" ", expr(s"slice(t, st, $ChunkW)"))), 1, 8)
              .as("h8"))
          .orderBy("doc_id", "chunk_idx"),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        c AS (SELECT doc_id, l, unnest(range(1, len(l) + 1, $ChunkS)) AS st
              FROM t)
        SELECT doc_id, CAST((st - 1) // $ChunkS AS BIGINT) AS chunk_idx,
               CAST(len(l[st:st + ${ChunkW - 1}]) AS BIGINT) AS n_toks,
               substr(md5(array_to_string(l[st:st + ${ChunkW - 1}], ' ')), 1, 8) AS h8
        FROM c ORDER BY doc_id, chunk_idx"""),
      bench = true),

    // ---- char-trigram Naive Bayes language classifier, trained and
    // evaluated entirely in the engine: per-language trigram
    // log-likelihoods (Laplace-smoothed, quantized to integer
    // micro-nats per distinct count tuple — the q118/q128/q134
    // contract), per-doc argmax over the language scores, and the
    // actual-vs-predicted confusion matrix. Two-pass broadcast-model
    // shape: pass 1 aggregates (lang, gram) counts — the ONLY
    // corpus-sized shuffle, gram-keyed with map-side combine — and
    // collects the vocabulary-bounded model to the driver; pass 2
    // re-counts each doc's grams locally and scores all languages
    // against the broadcast model inside the same flatMap, so
    // inference is a narrow map-only stage (no per-gram model join,
    // no (doc, g) shuffle, nothing persisted). The model is
    // vocab×|langs| longs — trigram vocabularies are charset-bounded,
    // so the broadcast holds at corpus scale -------------------------
    "q141_charngram_langid" -> Q(
      impl = (s, d) => {
        import s.implicits._
        // Train and score passes share the repartitioned scan; persist
        // so the single-file text shuffle (docsParallel) happens once.
        val docs = Tables.docsParallel(s, d)
          .filter(length(col("text")) >= 3)
          .select(col("doc_id"), col("lang"), col("text"))
          .as[(Long, String, String)].persist()
        // Grams travel as PACKED LONGS (3 × 21-bit code points — exact
        // for the BMP): a primitive key deletes per-gram String
        // allocation and shrinks the one shuffle. Per-doc counting is
        // a genuinely imperative per-row loop (local hash map), hence
        // the typed flatMap, not a position-explode.
        // ONE training job: the (lang, gram) count table — vocabulary-
        // bounded — collects raw, and the Laplace-smoothed quantized
        // log-probs are computed on the driver. StrictMath.log IS
        // Spark's `ln` (UnaryLogExpression binds StrictMath.log) and
        // BigDecimal/HALF_UP is Spark's `round`, so the micro-nat
        // values are bit-identical to the expression formulation the
        // DuckDB oracle mirrors.
        val lgRows = docs
          .flatMap { case (_, lang, text) =>
            DocQueries.triCounts(text).iterator.map { case (g, c) => (lang, g, c) }
          }
          .toDF("lang", "g", "c")
          .groupBy("lang", "g").agg(sum("c").as("cl"))
          .as[(String, Long, Long)].collect()
        def quant(x: Double): Long =
          java.math.BigDecimal.valueOf(x * 1000000)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        val nl = lgRows.groupMapReduce(_._1)(_._3)(_ + _)
        val v = lgRows.iterator.map(_._2).toSet.size.toLong
        val langs = nl.keys.toArray.sorted
        val langIdx = langs.zipWithIndex.toMap
        val q0Arr = langs.map(l => quant(StrictMath.log(1.0 / (nl(l) + v))))
        // gram → per-lang quantized log-prob, pre-filled with the
        // unseen penalty: score_l is then a single Σ c·arr(l) pass,
        // identical to matched-mass + unseen-mass·q0_l.
        val model = new scala.collection.mutable.LongMap[Array[Long]]()
        lgRows.foreach { case (l, g, cl) =>
          model.getOrElseUpdate(g, q0Arr.clone())(langIdx(l)) =
            quant(StrictMath.log((cl + 1).toDouble / (nl(l) + v).toDouble))
        }
        val bc = s.sparkContext.broadcast((langs, q0Arr, model))
        val preds = docs.map { case (_, lang, text) =>
          val (ls, q0a, mm) = bc.value
          val nLangs = ls.length
          val scores = new Array[Long](nLangs)
          val it = DocQueries.triCounts(text).iterator
          while (it.hasNext) {
            val (g, c) = it.next()
            val arr = mm.getOrNull(g)
            val row = if (arr != null) arr else q0a
            var l = 0
            while (l < nLangs) { scores(l) += c * row(l); l += 1 }
          }
          // argmax, ties → lowest lang: strict > over ascending langs
          var best = 0; var l = 1
          while (l < nLangs) { if (scores(l) > scores(best)) best = l; l += 1 }
          (lang, ls(best))
        }.toDF("lang", "pred_lang")
        preds.groupBy("lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang")
      },
      oracle = Some("""
        WITH d AS (SELECT doc_id, lang, text FROM documents
                   WHERE length(text) >= 3),
        idx AS (SELECT doc_id, lang, text,
                       unnest(range(1, length(text) - 1)) AS i
                FROM d),
        tg AS (SELECT doc_id, lang, substr(text, i, 3) AS g FROM idx),
        dtc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                FROM tg GROUP BY 1, 2),
        lg AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS cl
               FROM tg GROUP BY 1, 2),
        pl AS (SELECT lang, CAST(sum(cl) AS BIGINT) AS nl FROM lg GROUP BY 1),
        v AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM lg),
        model AS (SELECT lg.lang AS ml, lg.g,
                    CAST(round(ln(CAST(lg.cl + 1 AS DOUBLE) / CAST(pl.nl + v.v AS DOUBLE))
                               * 1000000) AS BIGINT) AS q
                  FROM lg JOIN pl ON pl.lang = lg.lang, v),
        q0 AS (SELECT pl.lang AS ml,
                 CAST(round(ln(1.0 / CAST(pl.nl + v.v AS DOUBLE))
                            * 1000000) AS BIGINT) AS q0
               FROM pl, v),
        mm AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS m FROM dtc GROUP BY 1),
        matched AS (SELECT dtc.doc_id, model.ml,
                      CAST(sum(dtc.c * model.q) AS BIGINT) AS mq,
                      CAST(sum(dtc.c) AS BIGINT) AS mc
                    FROM dtc JOIN model ON model.g = dtc.g
                    GROUP BY 1, 2),
        scores AS (SELECT mm.doc_id, q0.ml,
                     coalesce(matched.mq, 0)
                       + (mm.m - coalesce(matched.mc, 0)) * q0.q0 AS score
                   FROM mm CROSS JOIN q0
                     LEFT JOIN matched ON matched.doc_id = mm.doc_id
                                      AND matched.ml = q0.ml),
        pred AS (SELECT doc_id, ml AS pred_lang,
                        row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, ml) AS rk
                 FROM scores)
        SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
        FROM d JOIN pred p ON p.doc_id = d.doc_id AND p.rk = 1
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      bench = true),

    // ---- the native grouped top-k operator end-to-end (custom
    // LogicalPlan + SparkStrategy + partial/final SparkPlan pair,
    // graft.plans.GroupedTopKPlan): 3 longest docs per source under a
    // total order. The plan is bounded heaps on both sides of ONE
    // hash exchange — no per-group sort, and the map-side partial
    // caps the shuffle at k rows per (partition, group); the window
    // SQL below is the ORACLE's formulation, not the plan ----------
    "q148_native_grouped_topk" -> Q(
      impl = (s, d) => {
        import graft.operators.NativeGroupedTopK
        NativeGroupedTopK.topK(
          Tables.load(s, d, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          Seq("source"), Seq(("n_chars", false), ("doc_id", true)), 3)
          .orderBy("source", "doc_id")
      },
      oracle = Some("""
        WITH r AS (SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rk
                   FROM documents)
        SELECT doc_id, source, n_chars FROM r WHERE rk <= 3
        ORDER BY source, doc_id"""),
      bench = true),

    // ---- tombstone delete propagation (right-to-be-forgotten sweep):
    // a deterministic delete-list (here: every doc whose md5 starts
    // with 'a' — standing in for an external tombstone table) is
    // anti-joined against the store; per-source retained/deleted
    // accounting comes out of the same pass. One hash shuffle on the
    // id key; at 100 TB the tombstone side is the small one →
    // broadcast anti join, and the rewrite composes with
    // `operators.Compact` for the physical file sweep --------------
    "q149_tombstone_sweep" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        val tombstones = docs.filter(col("h").startsWith("a"))
          .select(col("doc_id").as("del_id"))
        val retained = docs
          .join(broadcast(tombstones), col("doc_id") === col("del_id"), "left_anti")
        // totals drive the output (left join) so a fully-deleted
        // source still reports, with n_retained = 0
        docs.groupBy("source").agg(count(lit(1)).as("n_total"))
          .join(retained.groupBy("source").agg(count(lit(1)).as("nr")),
            Seq("source"), "left")
          .select(col("source"),
            coalesce(col("nr"), lit(0L)).as("n_retained"),
            (col("n_total") - coalesce(col("nr"), lit(0L))).as("n_deleted"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id FROM documents
                   WHERE md5(text) LIKE 'a%'),
        r AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_retained
              FROM documents d
              WHERE d.doc_id NOT IN (SELECT doc_id FROM t)
              GROUP BY 1),
        a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_total
              FROM documents GROUP BY 1)
        SELECT a.source, coalesce(r.n_retained, 0) AS n_retained,
               a.n_total - coalesce(r.n_retained, 0) AS n_deleted
        FROM a LEFT JOIN r ON r.source = a.source
        ORDER BY a.source""")),

    // ---- snapshot diff: classify every row of two table snapshots as
    // added / removed / changed / unchanged via ONE full outer join on
    // the key with content-hash compare — the anti-entropy check a
    // replicated store runs after a migration. The second snapshot is
    // derived deterministically in-query (md5-prefix buckets: 'a'
    // deleted, 'b' rewritten, 'c' duplicated under a shifted id as
    // additions) so both engines see identical inputs. One hash
    // shuffle per side on the join key --------------------------------
    "q151_snapshot_diff" -> Q(
      impl = (s, d) => {
        val old = Tables.load(s, d, "documents")
          .select(col("doc_id"), md5(col("text")).as("h"))
        val neu = old.filter(!col("h").startsWith("a"))
          .withColumn("h",
            when(col("h").startsWith("b"), md5(concat(col("h"), lit("v2"))))
              .otherwise(col("h")))
          .unionByName(old.filter(col("h").startsWith("c"))
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("h")))
        old.toDF("id", "oh").join(neu.toDF("id", "nh"), Seq("id"), "full_outer")
          .select(
            when(col("oh").isNull, "added")
              .when(col("nh").isNull, "removed")
              .when(col("oh") =!= col("nh"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      oracle = Some("""
        WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
        neu AS (SELECT doc_id,
                       CASE WHEN h LIKE 'b%' THEN md5(h || 'v2') ELSE h END AS h
                FROM old WHERE h NOT LIKE 'a%'
                UNION ALL
                SELECT doc_id + 1000000000, h FROM old WHERE h LIKE 'c%'),
        j AS (SELECT CASE WHEN o.h IS NULL THEN 'added'
                          WHEN n.h IS NULL THEN 'removed'
                          WHEN o.h <> n.h THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM old o FULL OUTER JOIN neu n ON n.doc_id = o.doc_id)
        SELECT status, CAST(count(*) AS BIGINT) AS n
        FROM j GROUP BY 1 ORDER BY 1""")),

    // ---- video frame sampling over a REAL container walk: build a
    // spec-shaped RIFF/AVI per document (deterministic geometry),
    // parse the avih main header at its documented offsets, walk the
    // word-aligned '00dc' chunk chain, sample every 3rd frame, and
    // aggregate per doc — the whole thing one narrow mapPartitions
    // stage (build+parse+sample never leave the executor; at 100 TB
    // the payload column streams through without a shuffle). The
    // oracle recomputes frame counts and sampled byte sums from the
    // generator formulas, so any chunk-offset or alignment error in
    // build or walk breaks the hash match -----------------------------
    "q156_avi_frames" -> Q(
      impl = (s, d) => {
        import s.implicits._
        Tables.load(s, d, "documents").select(col("doc_id"))
          .as[Long]
          .mapPartitions { it =>
            it.map { id =>
              val info = Multimodal.parseAvi(Multimodal.aviPayload(id)).get
              val sampled = info.frames.zipWithIndex.collect {
                case ((_, size), f) if f % 3 == 0 => size.toLong
              }
              (id, info.width.toLong, info.height.toLong,
                info.frames.size.toLong,
                info.totalFrames.toLong == info.frames.size.toLong,
                sampled.size.toLong, sampled.sum)
            }
          }
          .toDF("doc_id", "width", "height", "n_frames", "consistent",
            "n_sampled", "sampled_bytes")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH m AS (SELECT doc_id, 1 + doc_id % 48 AS n FROM documents),
        f AS (SELECT doc_id, n, unnest(range(0, n, 3)) AS fr FROM m)
        SELECT f.doc_id,
               CAST(1 + f.doc_id % 1920 AS BIGINT) AS width,
               CAST(1 + (f.doc_id * 7) % 1080 AS BIGINT) AS height,
               CAST(any_value(f.n) AS BIGINT) AS n_frames,
               TRUE AS consistent,
               CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(64 + (f.doc_id + f.fr) % 32) AS BIGINT) AS sampled_bytes
        FROM f GROUP BY f.doc_id ORDER BY f.doc_id"""),
      bench = true),

    // ---- PII scrubbing: inject deterministic synthetic PII (no real
    // identifiers exist in the corpus), then redact by regex and
    // account for every masked character. The regexes are shared
    // RE2/Java syntax so both engines match identical spans; counts
    // come from regexp_extract_all so a lazy/greedy divergence would
    // fail the compare. Narrow map-only plan until the per-source
    // aggregation ------------------------------------------------------
    "q157_pii_scrub" -> Q(
      impl = (s, d) => {
        val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val phoneRe = "\\+1-555-[0-9]{4}"
        val aug = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("aug", concat(
            when(col("doc_id") % 3 === 0,
              concat(lit("contact u"), col("doc_id"), lit("@example.com ")))
              .otherwise(lit("")),
            when(col("doc_id") % 2 === 0,
              concat(lit("call +1-555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                lit(" ")))
              .otherwise(lit("")),
            col("text")))
        aug
          .withColumn("n_emails",
            size(regexp_extract_all(col("aug"), lit(emailRe), lit(0)))
              .cast("long"))
          .withColumn("n_phones",
            size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0)))
              .cast("long"))
          .withColumn("clean",
            regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_emails").as("n_emails"),
            sum("n_phones").as("n_phones"),
            sum(length(col("aug")) - length(col("clean"))).cast("long")
              .as("masked_chars"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH aug AS (
          SELECT source,
                 (CASE WHEN doc_id % 3 = 0
                       THEN 'contact u' || doc_id || '@example.com ' ELSE '' END)
                 || (CASE WHEN doc_id % 2 = 0
                          THEN 'call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
                          ELSE '' END)
                 || text AS aug
          FROM documents),
        scrubbed AS (
          SELECT source, aug,
                 len(regexp_extract_all(aug, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
                 len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS n_phones,
                 regexp_replace(regexp_replace(aug, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                                '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
          FROM aug)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_emails) AS BIGINT) AS n_emails,
               CAST(sum(n_phones) AS BIGINT) AS n_phones,
               CAST(sum(len(aug) - len(clean)) AS BIGINT) AS masked_chars
        FROM scrubbed GROUP BY source ORDER BY source"""),
      bench = true),

    // ---- Gopher-style composite quality rules: word count band, mean
    // word length band, stopword floor, repetition ceiling — each doc
    // evaluated in one codegen'd pass over its token array (exact
    // integer/ratio arithmetic both engines reproduce), then per-source
    // pass/fail accounting with a per-rule failure breakdown ------------
    "q158_gopher_rules" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("t", TextFns.tokens(col("text")))
          .withColumn("n_words", size(col("t")).cast("long"))
          // single-space-joined text: total word chars = len - (n-1)
          .withColumn("mean_wl",
            (length(col("text")) - col("n_words") + 1).cast("double") /
              col("n_words"))
          .withColumn("stop_frac",
            size(expr("filter(t, x -> x = 'the' OR x = 'a')")).cast("double") /
              col("n_words"))
          .withColumn("rep_frac",
            lit(1.0) - size(array_distinct(col("t"))).cast("double") /
              col("n_words"))
          .withColumn("ok_len", col("n_words").between(20, 90))
          .withColumn("ok_wl", col("mean_wl").between(3.0, 8.0))
          .withColumn("ok_stop", col("stop_frac") >= 0.02)
          .withColumn("ok_rep", col("rep_frac") <= 0.6)
        docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("ok_len") && col("ok_wl") && col("ok_stop") &&
              col("ok_rep"), 1L).otherwise(0L)).as("n_pass"),
            sum(when(!col("ok_len"), 1L).otherwise(0L)).as("fail_len"),
            sum(when(!col("ok_wl"), 1L).otherwise(0L)).as("fail_wl"),
            sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("fail_stop"),
            sum(when(!col("ok_rep"), 1L).otherwise(0L)).as("fail_rep"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH f AS (
          SELECT source,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                   / len(string_split(text, ' ')) AS mean_wl,
                 CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'the' OR x = 'a')) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_frac,
                 1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS rep_frac
          FROM documents),
        r AS (
          SELECT source,
                 n_words BETWEEN 20 AND 90 AS ok_len,
                 mean_wl BETWEEN 3.0 AND 8.0 AS ok_wl,
                 stop_frac >= 0.02 AS ok_stop,
                 rep_frac <= 0.6 AS ok_rep
          FROM f)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN ok_len AND ok_wl AND ok_stop AND ok_rep
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(sum(CASE WHEN NOT ok_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
               CAST(sum(CASE WHEN NOT ok_wl THEN 1 ELSE 0 END) AS BIGINT) AS fail_wl,
               CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
               CAST(sum(CASE WHEN NOT ok_rep THEN 1 ELSE 0 END) AS BIGINT) AS fail_rep
        FROM r GROUP BY source ORDER BY source"""),
      bench = true),

    // ---- OOV rate against the corpus' own top-100 vocabulary:
    // vocabulary = top tokens by total occurrences with a full
    // (count desc, token asc) order — deterministic across engines —
    // broadcast to the per-doc scan; per-lang mean OOV fraction.
    // The vocab is driver-/broadcast-scale by construction (top-K of
    // an aggregation), the corpus side never shuffles for the probe --
    "q159_oov_rate" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode(TextFns.tokens(col("text"))).as("tok"))
        val vocab = docs.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok").asc)
          .limit(100)
          .select("tok")
        val perDoc = docs
          .join(broadcast(vocab.withColumn("iv", lit(1L))), Seq("tok"), "left")
          .groupBy("doc_id", "lang")
          .agg((sum(when(col("iv").isNull, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("oov_frac"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(avg("oov_frac"), 4).as("avg_oov"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        vocab AS (SELECT tok FROM (
                    SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
                    ORDER BY cnt DESC, tok ASC LIMIT 100)),
        per_doc AS (
          SELECT t.doc_id, t.lang,
                 CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS oov_frac
          FROM tok t LEFT JOIN vocab v ON v.tok = t.tok
          GROUP BY t.doc_id, t.lang)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(oov_frac), 4) AS avg_oov
        FROM per_doc GROUP BY lang ORDER BY lang"""),
      bench = true),

    // ---- per-source KL divergence from the corpus token distribution
    // — the data-mixing diagnostic (how far each source's unigram
    // distribution sits from the mixture it feeds). Per-token
    // contributions are quantized to micro-nat longs BEFORE the sum —
    // long addition is associative, so the result is exact and
    // identical under any partitioning (same determinism design as the
    // quantized cosine in VecFns). Corpus totals are a broadcast-scale
    // dimension ----------------------------------------------------------
    "q164_source_kl" -> Q(
      impl = (s, d) => {
        val tok = Tables.load(s, d, "documents")
          .select(col("source"),
            explode(TextFns.tokens(col("text"))).as("tok"))
        val st = tok.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
          .persist()
        val srcTot = st.groupBy("source").agg(sum("cs").as("ns"))
        val corpus = st.groupBy("tok").agg(sum("cs").as("cc"))
        val corpusTot = corpus.agg(sum("cc").as("nc"))
        st.join(broadcast(corpus), "tok")
          .join(broadcast(srcTot), "source")
          .crossJoin(broadcast(corpusTot))
          .withColumn("contrib", expr("""
            CAST(round((CAST(cs AS DOUBLE) / ns)
                       * ln((CAST(cs AS DOUBLE) / ns) / (CAST(cc AS DOUBLE) / nc))
                       * 1000000) AS BIGINT)"""))
          .groupBy("source")
          .agg(count(lit(1)).as("n_types"),
            sum("contrib").as("kl_micro_nats"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cs
               FROM tok GROUP BY 1, 2),
        stot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM st GROUP BY 1),
        corpus AS (SELECT tok, CAST(sum(cs) AS BIGINT) AS cc FROM st GROUP BY 1),
        ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corpus)
        SELECT st.source, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CAST(round((CAST(cs AS DOUBLE) / ns)
                 * ln((CAST(cs AS DOUBLE) / ns) / (CAST(cc AS DOUBLE) / nc))
                 * 1000000) AS BIGINT)) AS BIGINT) AS kl_micro_nats
        FROM st
          JOIN stot ON stot.source = st.source
          JOIN corpus ON corpus.tok = st.tok, ctot
        GROUP BY st.source ORDER BY st.source"""),
      bench = true),

    // ---- exact repeated-span dedup: every SpanK-token window is
    // hashed (md5 of the joined slice — a fixed 32-char digest
    // shuffles, never the text); a hash seen in ≥2 distinct docs marks
    // its window duplicated; per doc, overlapping-or-adjacent
    // duplicated windows merge into maximal regions and the query
    // reports region count / duplicated-token mass / fraction. Scale
    // shape: the two-phase distinct-doc count and the hash join back
    // share one hash partitioning (exchange reuse), then one doc_id
    // shuffle carries the window merge + final agg; only docs
    // containing duplicated text survive to the window stage ---------
    "q165_dup_spans" -> Q(
      impl = (s, d) => {
        val K = SpanK
        val docs = Tables.docsParallel(s, d)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
          .withColumn("n_tok", size(col("t")))
          .filter(col("n_tok") >= K)
        val grams = docs.select(col("doc_id"), col("n_tok"),
            posexplode(transform(sequence(lit(0), col("n_tok") - K),
              i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(K)))))))
          .toDF("doc_id", "n_tok", "pos", "gh")
        val dup = grams.groupBy("gh")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select("gh")
        val hits = grams.join(dup, "gh")
          .withColumn("e", col("pos") + (K - 1))
        val byPos = Window.partitionBy("doc_id").orderBy("pos")
        val prevMaxEnd = max(col("e"))
          .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
        val flagged = hits.withColumn("newr",
          when(col("pos") > coalesce(prevMaxEnd + 1, lit(Int.MinValue)), 1L)
            .otherwise(0L))
        val regions = flagged
          .withColumn("gid", sum(col("newr"))
            .over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("doc_id", "gid")
          .agg(max("n_tok").as("n_tok"),
            min("pos").as("rs"), max("e").as("re"))
        regions.groupBy("doc_id")
          .agg(count(lit(1)).as("n_dup_regions"),
            sum(col("re") - col("rs") + 1).cast("long").as("dup_tokens"),
            max("n_tok").as("nt"))
          .select(col("doc_id"), col("n_dup_regions"), col("dup_tokens"),
            round(col("dup_tokens").cast("double") / col("nt"), 6).as("dup_frac"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dn AS (SELECT doc_id, t, len(t) AS n_tok FROM d WHERE len(t) >= $SpanK),
        g AS (SELECT doc_id, n_tok,
                     unnest(range(0, n_tok - $SpanK + 1)) AS pos, t
              FROM dn),
        h AS (SELECT doc_id, n_tok, pos,
                     md5(array_to_string(t[pos+1:pos+$SpanK], ' ')) AS gh
              FROM g),
        dup AS (SELECT gh FROM h GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
        hits AS (SELECT doc_id, n_tok, pos, pos + $SpanK - 1 AS e
                 FROM h SEMI JOIN dup USING (gh)),
        f AS (SELECT doc_id, n_tok, pos, e,
                CASE WHEN pos > coalesce(max(e) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1,
                     ${Int.MinValue}) THEN 1 ELSE 0 END AS newr
              FROM hits),
        r AS (SELECT doc_id, n_tok, pos, e,
                sum(newr) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS gid
              FROM f),
        reg AS (SELECT doc_id, gid, max(n_tok) AS n_tok,
                       min(pos) AS rs, max(e) AS re
                FROM r GROUP BY doc_id, gid)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_regions,
               CAST(sum(re - rs + 1) AS BIGINT) AS dup_tokens,
               round(CAST(sum(re - rs + 1) AS DOUBLE) / max(n_tok), 6) AS dup_frac
        FROM reg GROUP BY doc_id ORDER BY doc_id"""),
      bench = true),

    // ---- thumbnail geometry + feature extraction over the media
    // payload: sniff the container from magic bytes, compute the
    // aspect-preserving 224×224 thumbnail fit in exact integer
    // arithmetic, skip the header by FORMAT knowledge (fixed
    // per-container header lengths — never by trailing-byte
    // inspection), and extract byte-level features (mean + 4-bin
    // histogram) from the body in the same pass. One narrow
    // mapPartitions stage: payloads never shuffle; only the
    // per-source feature sums do. The real pixel decode is where an
    // image library would slot in — the features here are the
    // deterministic stand-in, and the oracle recomputes them from the
    // generator formulas (ASCII body ⇒ code points = bytes) ----------
    "q168_thumb_features" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val hdrLen = Map("png" -> 33, "gif" -> 13, "bmp" -> 26, "jpeg" -> 39)
        val feats = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .as[(Long, String, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, src, text) =>
              val p = Multimodal.syntheticPayload(id, text)
              val (fmt, w, h) = Multimodal.parseHeader(p)
              hdrLen.get(fmt).map { hdr =>
                val (tw, th) =
                  if (w <= 224 && h <= 224) (w, h)
                  else if (w >= h) (224, math.max(1, h * 224 / w))
                  else (math.max(1, w * 224 / h), 224)
                var bsum = 0L
                val bins = new Array[Long](4)
                var i = hdr
                while (i < p.length) {
                  val b = p(i) & 0xff
                  bsum += b; bins(b % 4) += 1; i += 1
                }
                (src, tw.toLong, th.toLong, bsum, (p.length - hdr).toLong,
                  bins(0), bins(1), bins(2), bins(3))
              }
            }
          }
          .toDF("source", "tw", "th", "bsum", "bn", "b0", "b1", "b2", "b3")
        feats.groupBy("source").agg(
            count(lit(1)).as("n_images"),
            sum("tw").as("sum_tw"), sum("th").as("sum_th"),
            round(sum(col("bsum")).cast("double") / sum(col("bn")), 6)
              .as("mean_byte"),
            sum("b0").as("h0"), sum("b1").as("h1"),
            sum("b2").as("h2"), sum("b3").as("h3"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH img AS (
          SELECT doc_id, source, text,
                 CAST(1 + doc_id % 1920 AS BIGINT) AS w,
                 CAST(1 + (doc_id * 7) % 1080 AS BIGINT) AS h
          FROM documents WHERE doc_id % 5 <> 4),
        geo AS (
          SELECT doc_id, source,
                 CASE WHEN w <= 224 AND h <= 224 THEN w
                      WHEN w >= h THEN 224
                      ELSE greatest(1, (w * 224) // h) END AS tw,
                 CASE WHEN w <= 224 AND h <= 224 THEN h
                      WHEN w >= h THEN greatest(1, (h * 224) // w)
                      ELSE 224 END AS th
          FROM img),
        chars AS (
          SELECT doc_id, unicode(c) AS b
          FROM (SELECT doc_id, unnest(string_split_regex(text, '')) AS c
                FROM img)
          WHERE length(c) = 1),
        st AS (
          SELECT doc_id, sum(b) AS bsum, count(*) AS bn,
                 sum(CASE WHEN b % 4 = 0 THEN 1 ELSE 0 END) AS b0,
                 sum(CASE WHEN b % 4 = 1 THEN 1 ELSE 0 END) AS b1,
                 sum(CASE WHEN b % 4 = 2 THEN 1 ELSE 0 END) AS b2,
                 sum(CASE WHEN b % 4 = 3 THEN 1 ELSE 0 END) AS b3
          FROM chars GROUP BY doc_id)
        SELECT source, CAST(count(*) AS BIGINT) AS n_images,
               CAST(sum(tw) AS BIGINT) AS sum_tw,
               CAST(sum(th) AS BIGINT) AS sum_th,
               round(CAST(sum(bsum) AS DOUBLE) / sum(bn), 6) AS mean_byte,
               CAST(sum(b0) AS BIGINT) AS h0, CAST(sum(b1) AS BIGINT) AS h1,
               CAST(sum(b2) AS BIGINT) AS h2, CAST(sum(b3) AS BIGINT) AS h3
        FROM geo JOIN st USING (doc_id)
        GROUP BY source ORDER BY source""")),

    // ---- per-source score calibration: each source's quality-score
    // distribution maps to its own ECDF, making "top decile" mean the
    // same thing in every source before a global gate (raw thresholds
    // over-select verbose sources). Distributed shape: scores bucket
    // per (source, score) FIRST, the ordered prefix-sum window runs
    // over the aggregated bucket table (bounded: distinct scores per
    // source), never over raw docs — the q81-class per-group sort on
    // the full corpus never appears ----------------------------------
    "q173_score_calibration" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .filter(length(col("text")) > 0)
          .select(col("doc_id"), col("source"),
            TextFns.stopwordRatio(col("text"), Stopwords).as("score"))
        val buckets = docs.groupBy("source", "score")
          .agg(count(lit(1)).as("cnt"))
        val cumW = Window.partitionBy("source").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, 0)
        val totW = Window.partitionBy("source")
        buckets
          .withColumn("cum", sum("cnt").over(cumW))
          .withColumn("n", sum("cnt").over(totW))
          .withColumn("ecdf", col("cum").cast("double") / col("n"))
          .filter(col("ecdf") >= 0.9)
          .groupBy("source")
          .agg(max("n").as("n_docs"), sum("cnt").as("n_gated"),
            min("score").as("gate_score"),
            round(sum(col("score") * col("cnt")) / sum("cnt"), 6)
              .as("mean_gated"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT doc_id, source,
                 round(len(list_filter(string_split(text, ' '),
                   x -> x IN (${Stopwords.map("'" + _ + "'").mkString(",")})))
                   / len(string_split(text, ' ')), 4) AS score
          FROM documents WHERE length(text) > 0),
        b AS (SELECT source, score, CAST(count(*) AS BIGINT) AS cnt
              FROM sc GROUP BY 1, 2),
        e AS (
          SELECT source, score, cnt,
                 sum(cnt) OVER (PARTITION BY source ORDER BY score
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY source) AS n
          FROM b)
        SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
               CAST(sum(cnt) AS BIGINT) AS n_gated,
               min(score) AS gate_score,
               round(sum(score * cnt) / sum(cnt), 6) AS mean_gated
        FROM e WHERE CAST(cum AS DOUBLE) / n >= 0.9
        GROUP BY source ORDER BY source"""),
      bench = true),

    // ---- BM25 retrieval scoring for a fixed query over the corpus:
    // Robertson idf = ln(1 + (N−df+0.5)/(df+0.5)), k1 = 1.2, b = 0.75
    // with doc-length normalization against the corpus mean. Shapes:
    // the explode filters to the query terms IMMEDIATELY (the
    // high-cardinality token stream dies at the scan), term stats and
    // corpus stats are scalar-tiny → broadcast, scoring aggregates per
    // doc on one shuffle, and the final cut is orderBy+limit —
    // TakeOrdered, not a global sort. The ordering key is the ROUNDED
    // score (+ doc_id), so the top-20 set is engine-exact ------------
    "q174_bm25" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
          .withColumn("len", size(col("t")))
        val stats = docs.agg(count(lit(1)).as("n"),
          sum("len").as("sumlen"))
        val tf = docs
          .select(col("doc_id"), col("len"), explode(col("t")).as("tok"))
          .filter(col("tok").isin(Bm25Terms.map(x => x: Any): _*))
          .groupBy("doc_id", "len", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok")
          .agg(count_distinct(col("doc_id")).as("dfreq"))
        tf.join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(stats))
          .withColumn("avglen",
            col("sumlen").cast("double") / col("n"))
          .withColumn("idf", log(lit(1.0) +
            (col("n") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)))
          .withColumn("contrib",
            col("idf") * (col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
          .groupBy("doc_id")
          .agg(round(sum("contrib"), 6).as("bm25"),
            count(lit(1)).as("n_terms"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        dl AS (SELECT doc_id, len(t) AS len, t FROM d),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(len) AS BIGINT) AS sumlen FROM dl),
        tf AS (
          SELECT doc_id, len, tok, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, len, unnest(t) AS tok FROM dl)
          WHERE tok IN (${Bm25Terms.map("'" + _ + "'").mkString(",")})
          GROUP BY 1, 2, 3),
        df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
               FROM tf GROUP BY tok),
        sc AS (
          SELECT tf.doc_id,
                 ln(1.0 + (st.n - df.dfreq + 0.5) / (df.dfreq + 0.5))
                   * (tf.tf * 2.2) /
                   (tf.tf + 1.2 * (0.25 + 0.75 * tf.len
                     / (CAST(st.sumlen AS DOUBLE) / st.n))) AS contrib
          FROM tf JOIN df USING (tok) CROSS JOIN st)
        SELECT doc_id, round(sum(contrib), 6) AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM sc GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 20"""),
      bench = true),

    // ---- distributed classifier training: a linear probe predicting
    // "is this an English doc" (label in ppm) from three cheap text
    // statistics, trained by batch gradient descent on squared loss.
    // The 100 TB shape every learned quality filter needs: one epoch =
    // ONE map-side-combined aggregation producing the 4 gradient sums
    // + loss (the only driver state is the 4-weight model, broadcast
    // back into the next epoch's codegen'd projection as literals).
    // Arithmetic is fixed-point BIGINT throughout — predictions in
    // ppm, updates via truncating integer division — so the training
    // trajectory is bit-reproducible on any engine: the oracle
    // re-runs the identical 3 epochs as chained CTEs. Loss (sse_e9)
    // decreases 2059→1402→1254 at sf0.1: the probe actually learns --
    "q175_linear_probe" -> Q(
      impl = (s, d) => {
        import s.implicits._
        // one narrow projection, materialized once, read per epoch
        val feats = probeFeatures(s, d).persist()
        var w = Array(0L, 0L, 0L, 0L)
        val rows = (1 to Iters).map { it =>
          // current weights fold into the epoch's codegen as literals
          val predE = expr(
            s"${w(0)}L + (${w(1)}L * f1 + ${w(2)}L * f2 + ${w(3)}L * f3) div 256")
          val g = feats.select((col("y") - predE).as("r"), col("f1"), col("f2"), col("f3"))
            .agg(sum("r").as("sr"), sum(col("r") * col("f1")).as("s1"),
              sum(col("r") * col("f2")).as("s2"), sum(col("r") * col("f3")).as("s3"),
              sum(col("r") * col("r")).as("ss"), count(lit(1)).as("n"))
            .collect()(0)
          val (sr, s1, s2, s3, ss, n) =
            (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4), g.getLong(5))
          w = Array(
            w(0) + sr / n / 2,
            w(1) + s1 / n / 256 / 2,
            w(2) + s2 / n / 256 / 2,
            w(3) + s3 / n / 256 / 2)
          (it.toLong, w(0), w(1), w(2), w(3), ss / 1000000000L)
        }
        feats.unpersist()
        rows.toDF("iter", "w0", "w1", "w2", "w3", "sse_e9").orderBy("iter")
      },
      oracle = Some {
        val stop = Stopwords.map("'" + _ + "'").mkString(",")
        val ctes = new StringBuilder(s"""
        f AS (SELECT
          CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT) AS y,
          CAST(least(len(string_split(text, ' ')), 256) AS BIGINT) AS f1,
          CAST(least(length(text), 4096) // 16 AS BIGINT) AS f2,
          CAST(least(len(list_filter(string_split(text, ' '),
            x -> x IN ($stop))), 64) AS BIGINT) AS f3
          FROM documents),
        w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                      CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""")
        for (i <- 1 to Iters) {
          ctes.append(s""",
        r$i AS (SELECT f1, f2, f3,
          y - (w.w0 + (w.w1*f1 + w.w2*f2 + w.w3*f3) // 256) AS r
          FROM f CROSS JOIN w${i - 1} w),
        g$i AS (SELECT CAST(sum(r) AS BIGINT) AS sr,
          CAST(sum(r*f1) AS BIGINT) AS s1, CAST(sum(r*f2) AS BIGINT) AS s2,
          CAST(sum(r*f3) AS BIGINT) AS s3, CAST(sum(r*r) AS BIGINT) AS ss,
          CAST(count(*) AS BIGINT) AS n FROM r$i),
        w$i AS (SELECT
          w.w0 + (g.sr // g.n) // 2 AS w0,
          w.w1 + ((g.s1 // g.n) // 256) // 2 AS w1,
          w.w2 + ((g.s2 // g.n) // 256) // 2 AS w2,
          w.w3 + ((g.s3 // g.n) // 256) // 2 AS w3
          FROM w${i - 1} w CROSS JOIN g$i g)""")
        }
        val outs = (1 to Iters).map(i =>
          s"""SELECT CAST($i AS BIGINT) AS iter, w.w0, w.w1, w.w2, w.w3,
              g.ss // 1000000000 AS sse_e9 FROM w$i w CROSS JOIN g$i g""")
        "WITH " + ctes + "\n" + outs.mkString(" UNION ALL ") + " ORDER BY iter"
      },
      bench = true),

    // ---- sequence-length bucketing: clip token counts to the max
    // sequence length, snap each doc to the smallest power-of-two
    // bucket that holds it, and account the padding a pad-to-bucket
    // assembler wastes per bucket (vs the tokens actually carried).
    // One narrow codegen'd projection + one 9-key aggregation — the
    // whole query is a map-side-combined scan at any scale ----------
    "q179_pad_buckets" -> Q(
      impl = (s, d) => {
        val n = least(size(TextFns.tokens(col("text"))).cast("long"), lit(Edges.last))
        val docs = Tables.docsParallel(s, d)
          .select(n.as("n"), bucketOf(n).as("bucket"))
        docs.groupBy("bucket")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n").as("sum_tokens"),
            sum(col("bucket") - col("n")).as("pad_tokens"))
          .withColumn("waste_bp",
            expr("(10000 * pad_tokens) div (n_docs * bucket)"))
          .orderBy("bucket")
      },
      oracle = Some {
        val caseExpr = Edges.init.reverse.foldLeft(s"${Edges.last}") {
          (rest, e) => s"CASE WHEN n <= $e THEN $e ELSE $rest END"
        }
        s"""
        WITH d AS (SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT),
                               ${Edges.last}) AS n
                   FROM documents),
        b AS (SELECT n, CAST($caseExpr AS BIGINT) AS bucket FROM d),
        g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n) AS BIGINT) AS sum_tokens,
                     CAST(sum(bucket - n) AS BIGINT) AS pad_tokens
              FROM b GROUP BY bucket)
        SELECT bucket, n_docs, sum_tokens, pad_tokens,
               (10000 * pad_tokens) // (n_docs * bucket) AS waste_bp
        FROM g ORDER BY bucket"""
      },
      bench = true),

    // ---- CCNet perplexity bucketing: train the q103 unigram LM on
    // the corpus itself, score every doc by mean token surprisal in
    // integer micro-nats (round(ln(tot/c)·1e6) per token — the same
    // double from the same two BIGINTs on every engine; long sums →
    // associative → partitioning-independent), then ntile(3) per
    // language over (score, doc_id) into head/middle/tail. Scale
    // shape: the vocabulary is a broadcast (heavy-hitter counts), the
    // scoring pass is one token-exploded aggregation, and the tercile
    // split is a per-language window — languages are numerous and
    // bounded in CCNet's setting, the high-cardinality side of the
    // grouped-scan rule ---------------------------------------------
    "q180_ppl_buckets" -> Q(
      impl = (s, d) => {
        val toks = Tables.docsParallel(s, d)
          .select(col("doc_id"), col("lang"),
            explode(TextFns.tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = toks.agg(count(lit(1)).as("tot"))
        val scored = toks.join(broadcast(vocab), "tok")
          .crossJoin(broadcast(tot))
          // Portability note: unlike +/−/×/sqrt, ln is not IEEE-754
          // correctly-rounded-guaranteed, so this leans on JVM
          // Math.log and DuckDB's libm agreeing to the last bit on
          // ratios of small integers (they do on every platform we
          // run; a 1-ulp divergence at a round(x*1e6) halfway point
          // would flip a micro-nat). The integer-exact paths (q103/
          // q118 fixed-point NLL) are the engine-exact alternative.
          .withColumn("surp",
            round(log(col("tot") / col("c")) * 1e6, 0).cast("long"))
          .groupBy("doc_id", "lang")
          .agg(sum("surp").as("snll"), count(lit(1)).as("ntok"))
          .withColumn("score", expr("snll div ntok"))
        scored
          .withColumn("bucket", ntile(NTiles).over(
            Window.partitionBy("lang").orderBy(col("score"), col("doc_id")))
            .cast("long"))
          .groupBy("lang", "bucket")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("ntok").as("sum_tokens"),
            min("score").as("min_score"),
            max("score").as("max_score"))
          .orderBy("lang", "bucket")
      },
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, lang,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents),
        v AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM toks),
        sc AS (SELECT doc_id, lang,
                      CAST(sum(CAST(round(ln(tot / c) * 1000000, 0) AS BIGINT))
                        AS BIGINT) AS snll,
                      CAST(count(*) AS BIGINT) AS ntok
               FROM toks JOIN v USING (tok) CROSS JOIN t
               GROUP BY 1, 2),
        sb AS (SELECT lang, snll // ntok AS score, ntok,
                      CAST(ntile($NTiles) OVER (PARTITION BY lang
                        ORDER BY snll // ntok, doc_id) AS BIGINT) AS bucket
               FROM sc)
        SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS sum_tokens,
               CAST(min(score) AS BIGINT) AS min_score,
               CAST(max(score) AS BIGINT) AS max_score
        FROM sb GROUP BY 1, 2 ORDER BY lang, bucket"""),
      bench = true),

    // ---- iterated BPE merge training: emit the (iter, a, b, c)
    // merge table — the merges.txt a tokenizer trainer ships --------
    "q182_bpe_train" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val (trajectory, vocab) = train(s, d)
        vocab.unpersist()
        trajectory.toDF("iter", "a", "b", "c").orderBy("iter")
      },
      oracle = Some {
        val outs = (1 to Merges).map(i =>
          s"SELECT CAST($i AS BIGINT) AS iter, a, b, c FROM m$i")
        trainCtes + "\n" + outs.mkString(" UNION ALL ") + " ORDER BY iter"
      },
      bench = true),

    // ---- tokenizer application: segment the corpus with the trained
    // merges and report the symbol-frequency table (top 25) — corpus
    // token statistics under the learned vocabulary, computed from
    // the weighted word vocab without re-scanning the corpus --------
    "q183_bpe_segment" -> Q(
      impl = (s, d) => {
        // apply-side BY DESIGN, on both sides of the compare: replay
        // the merge trajectory (one corpus pass, no iterative argmax
        // jobs) — trained on demand if this JVM hasn't yet — exactly
        // how a tokenizer ships (train once, apply from merges.txt).
        // The oracle below is generated with the SAME merges as
        // literals, so DuckDB also applies rather than retrains: the
        // Spark-vs-oracle timing is symmetric, and q182 remains the
        // benchmark (and independent correctness check) of training
        // itself. Per-row replace composition makes the replayed
        // vocab bit-identical to the training loop's.
        replayVocab(s, d, trajectoryFor(s, d))
          .select(col("freq"),
            explode(expr("split(trim(BOTH '|' FROM repr), '\\\\|\\\\|')"))
              .as("sym"))
          .groupBy("sym").agg(sum("freq").as("n"))
          .orderBy(desc("n"), col("sym"))
          .limit(25)
      },
      oracle = None,
      // apply-only oracle, generated with the deterministic trained
      // merges folded in as replace() literals (the q166/q167
      // data-derived-oracle pattern): DuckDB segments the corpus with
      // the same merges.txt instead of replaying the 8-round training
      // loop q182 already verifies end-to-end.
      oracleGen = Some { (s, d) =>
        val applied = trajectoryFor(s, d).foldLeft(
          "regexp_replace(word, '(.)', '|\\1|', 'g')") {
          case (acc, (_, a, b, _)) =>
            s"replace($acc, '|$a||$b|', '|$a$b|')"
        }
        s"""WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) >= 2
              GROUP BY 1),
        v AS (SELECT $applied AS repr, freq FROM w)
        SELECT sym, CAST(sum(freq) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(trim(repr, '|'), '||')) AS sym, freq
              FROM v)
        GROUP BY 1 ORDER BY n DESC, sym LIMIT 25"""
      },
      bench = true),

    // ---- q192: the span-dedup ROUTING CONTRACT as a public pipeline
    // stage (VERDICT r16 #6). SpanDedupContractSpec + ARCHITECTURE
    // declared winnowing (q84) the production span-dedup and q165 the
    // exact accounting tool, but no Curation stage exposed either — a
    // user composing the public pipeline couldn't reach the contract.
    // Curation.spanDedup is that stage: winnowing-backed by default
    // (drop any doc sharing a fingerprint value with another doc —
    // every cross-doc verbatim span of >= k+w-1 tokens is caught, the
    // MOSS guarantee), q165's exact region accounting behind
    // exact=true with its ~w-times-shuffled-volume cost documented.
    // The oracle replays the whole winnowing path: gram hashes,
    // windowed (h, -pos) min, full-windows-only selection, shared-
    // fingerprint drop set, anti-join, per-source survivor counts ----
    "q192_span_dedup_stage" -> Q(
      impl = (s, d) => {
        import graft.corpus.Curation
        Tables.docsParallel(s, d)
          .transform(Curation.withTokens())
          .transform(Curation.spanDedup())
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 1))) AS i
                FROM toks),
        g AS (SELECT doc_id, i - 1 AS pos,
                     CAST('0x' || substr(md5(
                       t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                     ), 1, 12) AS BIGINT) AS h
              FROM idx WHERE i + 3 <= len(t)),
        wm AS (SELECT doc_id, pos,
                      min(struct_pack(h := h, np := -pos)) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wmin,
                      count(*) OVER (PARTITION BY doc_id) AS n_grams
               FROM g),
        fp AS (SELECT DISTINCT doc_id, wmin.h AS fp
               FROM wm WHERE pos <= n_grams - 5),
        shared AS (SELECT fp FROM fp GROUP BY fp
                   HAVING count(DISTINCT doc_id) >= 2),
        dropped AS (SELECT doc_id FROM fp SEMI JOIN shared USING (fp)
                    GROUP BY doc_id HAVING count(*) >= 1)
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
        FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
        WHERE dr.doc_id IS NULL
        GROUP BY d.source ORDER BY d.source"""),
      bench = true)
  )
}
