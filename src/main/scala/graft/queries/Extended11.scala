package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Round-8 batch four: gap-based sessionization (the batch analogue of
  * the streaming session windows), BPE-style adjacent-pair statistics,
  * a corpus novelty score over unique shingles, source mixing weights
  * for dataset re-balancing, and a vocabulary-pruning curation stage.
  *
  * Engine-wide determinism contract: every emitted measure is integer
  * (counts, micro-units, ppm) so aggregation order can never shift a
  * hash; every query ends in a full-key ORDER BY.
  */
object Extended11 {

  /** q129: events more than 30 minutes apart start a new session. */
  private val SessionGapUs = 1800000000L

  /** q133: corpus-level types seen fewer than this many times drop. */
  private val MinTypeCount = 3L

  private val Stopwords = Seq("a", "the")

  val queries: Map[String, Q] = Map(
    // ---- gap-based sessionization: the classic batch session
    // assignment — a session break is a >30 min silence, session id is
    // the running count of breaks. Both windows partition on user_id
    // (high-cardinality → even spread; one task never sees more than
    // one user's events sorted). The tie order of equal timestamps
    // cannot shift results: a tied row's gap is 0 (never a break) and
    // tied rows always share a session id ----------------------------
    "q129_sessionize" -> Q(
      impl = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("us")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("us"))
          .withColumn("prev", lag("us", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull ||
              col("us") - col("prev") > SessionGapUs, 1L).otherwise(0L))
          .withColumn("sid", sum("brk").over(run))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"),
            min("us").as("t0"), max("us").as("t1"))
        sess.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            max("n_events").as("max_events"),
            sum(col("t1") - col("t0")).as("total_dur_us"))
          .orderBy("user_id")
      },
      oracle = Some(s"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        g AS (SELECT user_id, us,
                CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > $SessionGapUs
                     THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        st AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
               FROM g),
        sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
                        min(us) AS t0, max(us) AS t1
                 FROM st GROUP BY 1, 2)
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(max(n_events) AS BIGINT) AS max_events,
               CAST(sum(t1 - t0) AS BIGINT) AS total_dur_us
        FROM sess GROUP BY 1 ORDER BY user_id"""),
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
        WITH ${DocQueries.shingleCtes(3)},
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

    // ---- source mixing weights: per-source token mass, its share of
    // the corpus, and the upsample weight that would equalize sources
    // (capped at 1×, in ppm) — the "data mixing" table a curriculum
    // builder consumes. One explode-free size() pass, one per-source
    // aggregation; the global total is a 20-row broadcast. ppm math
    // stays in longs (overflow headroom: total · 10^6 < 2^63 up to
    // ~9·10^12 corpus tokens; past that, pre-divide by k first) ------
    "q132_mix_weights" -> Q(
      impl = (s, d) => {
        val per = Tables.load(s, d, "documents")
          .select(col("source"),
            size(TextFns.tokens(col("text"))).cast("long").as("nt"))
          .groupBy("source")
          .agg(sum("nt").as("n_tokens"), count(lit(1)).as("n_docs"))
        val tot = per.agg(sum("n_tokens").as("total"),
          count(lit(1)).as("k"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("n_tokens * 1000000 div total").as("share_ppm"),
            least(lit(1000000L),
              expr("total * 1000000 div (k * n_tokens)")).as("weight_ppm"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH per AS (SELECT source,
                       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
                       CAST(count(*) AS BIGINT) AS n_docs
                     FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                       CAST(count(*) AS BIGINT) AS k FROM per)
        SELECT source, n_docs, n_tokens,
               n_tokens * 1000000 // total AS share_ppm,
               least(1000000, total * 1000000 // (k * n_tokens)) AS weight_ppm
        FROM per, tot ORDER BY source"""),
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
            col("cg") >= MinTypeCount && !col("tok").isin(Stopwords: _*))
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
                          AND cnt.tok NOT IN (${Stopwords.map(w => s"'$w'").mkString(", ")})
                        THEN cnt.c ELSE 0 END) AS BIGINT) AS n_tokens_kept,
               CAST(sum(CASE WHEN g.cg >= $MinTypeCount
                          AND cnt.tok NOT IN (${Stopwords.map(w => s"'$w'").mkString(", ")})
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_types_kept,
               CAST(sum(CASE WHEN g.cg >= $MinTypeCount
                          AND cnt.tok NOT IN (${Stopwords.map(w => s"'$w'").mkString(", ")})
                        THEN 0 ELSE cnt.c END) AS BIGINT) AS n_tokens_dropped
        FROM cnt JOIN g ON g.tok = cnt.tok
        GROUP BY 1 ORDER BY 1"""),
      bench = true)
  )
}
