package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Round-13: iterated BPE tokenizer training and application — the
  * full count → pick-top-pair → re-segment loop that q130 only ran
  * one counting pass of (q182), plus segmentation of the corpus with
  * the trained merges (q183).
  *
  * Shape at 100 TB: classic BPE trainers iterate over the *distinct
  * word vocabulary weighted by corpus frequency*, never the corpus
  * itself — the word-count table is corpus-bounded (vocabulary grows
  * ~O(sqrt(corpus)) by Heaps' law), so after the single corpus-wide
  * counting shuffle every merge round touches only that compact
  * table: one map-side-combined pair aggregation, a 1-row driver
  * collect of the argmax pair (the only driver state, as in q175's
  * 4-weight model), and a codegen'd map applying the merge with the
  * chosen pair folded in as a string literal. Each round's vocab is
  * persisted and the predecessor unpersisted, so lineage stays one
  * map deep. Applying the trained tokenizer (q183) is again
  * vocab-sized: corpus symbol statistics are Σ freq per symbol over
  * the final segmentation — the corpus itself is never re-scanned.
  *
  * Determinism/portability: a word's segmentation is the pipe-framed
  * string `|s1||s2||…|` — merging pair (a, b) is then literal
  * `replace(repr, '|a||b|', '|ab|')`, and both Spark and DuckDB scan
  * replace() left-to-right resuming AFTER each replacement, which IS
  * BPE's greedy merge order (verified: both engines give
  * `|aa||a|` for (a,a) on `|a||a||a|`). Ties on pair count break by
  * (a, b) lexicographic; the oracles replay the identical 8 merges as
  * chained CTEs (the q175 trajectory-reproducibility pattern).
  */
object Extended21 {

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
  private[graft] def trajectoryFor(s: SparkSession, d: String)
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
    * timed region while a full-registry run (q182 first) would not,
    * the run-order dependence the round-14 advisor flagged.
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
      bench = true))
}
