package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Round-8 batch five: distribution-matching importance weights (the
  * DSIR recipe), asymmetric containment dedup with a frequent-shingle
  * skip, lexical-diversity stats over higher-order array functions,
  * PMI collocation mining, and fixed-size token chunking with stride
  * (the pre-embedding "context window packing" stage).
  *
  * Determinism: every transcendental (ln) is quantized to integer
  * micro-nats per DISTINCT integer-count tuple before any summation or
  * comparison, so both engines quantize bit-identical doubles and all
  * aggregation is long arithmetic.
  */
object Extended12 {

  /** q134: the target domain whose unigram distribution docs are
    * scored against.
    */
  private val DsirTarget = "src0"

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

  val queries: Map[String, Q] = Map(
    // ---- DSIR importance weights: score(doc) = Σ_tok c·q(tok) where
    // q = round( (ln p̂_target(tok) − ln p̂_corpus(tok)) · 1e6 ) under
    // Laplace smoothing — the hashed-unigram distribution-matching
    // sampler weight. q depends only on the integer tuple
    // (ct, cg, n_t, n_g, V), so both engines quantize identical
    // doubles; doc scores are then pure long sums. Shape: doc-token
    // counts (one shuffle on (doc,tok)) join the type table on tok
    // (high-cardinality key), then one doc_id aggregation; the three
    // corpus scalars ride a 1-row broadcast -------------------------
    "q134_dsir_weights" -> Q(
      impl = (s, d) => {
        val tok = Tables.docsParallel(s, d)
          .select(col("doc_id"), col("source"),
            explode(TextFns.tokens(col("text"))).as("tok"))
        val dtc = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val g = tok.groupBy("tok").agg(
          count(lit(1)).as("cg"),
          sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("ct"))
        val scal = g.agg(sum("cg").as("ng"), sum("ct").as("nt"),
          count(lit(1)).as("v"))
        val q = g.crossJoin(broadcast(scal))
          .withColumn("q", expr("""
            CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
                      - ln(CAST(cg + 1 AS DOUBLE) / CAST(ng + v AS DOUBLE)))
                       * 1000000) AS BIGINT)"""))
          .select("tok", "q")
        dtc.join(q, "tok")
          .groupBy("doc_id").agg(sum(col("c") * col("q")).as("dsir_unats"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH tok AS (SELECT doc_id, source,
                            unnest(string_split(text, ' ')) AS tok
                     FROM documents),
        dtc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
                FROM tok GROUP BY 1, 2),
        g AS (SELECT tok, CAST(count(*) AS BIGINT) AS cg,
                     CAST(sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END)
                          AS BIGINT) AS ct
              FROM tok GROUP BY 1),
        scal AS (SELECT CAST(sum(cg) AS BIGINT) AS ng,
                        CAST(sum(ct) AS BIGINT) AS nt,
                        CAST(count(*) AS BIGINT) AS v FROM g),
        q AS (SELECT g.tok,
                CAST(round((ln(CAST(g.ct + 1 AS DOUBLE) / CAST(s.nt + s.v AS DOUBLE))
                          - ln(CAST(g.cg + 1 AS DOUBLE) / CAST(s.ng + s.v AS DOUBLE)))
                           * 1000000) AS BIGINT) AS q
              FROM g, scal s)
        SELECT dtc.doc_id, CAST(sum(dtc.c * q.q) AS BIGINT) AS dsir_unats
        FROM dtc JOIN q ON q.tok = dtc.tok
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
        WITH ${DocQueries.shingleCtes(3)},
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
      bench = true)
  )
}
