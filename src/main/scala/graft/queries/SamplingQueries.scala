package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns
import graft.operators.{GroupedPrefixSum, GroupedTopK}

/** Sampling and mixture queries over `documents` and `events`:
  * deterministic hash, stratified, weighted and token-budget samples,
  * source mixture weights (temperature scaling, DSIR importance
  * weights, exact largest-remainder quotas), and hash-stable holdout
  * and epoch-shard splits. Every draw is a function of seeded hashes
  * or integer arithmetic, so both engines select the same rows.
  */
object SamplingQueries {

  /** q94: token budget of the sample. */
  private val TokenBudget = 20000L

  /** q107 temperature-sampling parameters: weight ∝ cnt^Alpha,
    * scaled so the expected kept fraction of the corpus is TargetFrac.
    */
  private val Alpha = 0.7
  private val TargetFrac = 0.25

  /** q114 sample size. */
  private val WeightedSampleK = 500

  /** q134: the target domain whose unigram distribution docs are
    * scored against.
    */
  private val DsirTarget = "src0"

  private val NShards = 32      // q171 epoch shard count
  private val Budget = 1000L    // q177 global sample budget

  val queries: Map[String, Q] = Map(
    // ---- deterministic cross-engine hash sampling: md5-prefix
    // Bernoulli sample (p = 2/16), reproducible on any engine --------
    "q64_hash_sample" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .filter(substring(md5(concat_ws("-",
            col("l_orderkey"), col("l_linenumber"))), 1, 1) < "2")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("l_quantity").cast("long")).as("sum_qty"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        WHERE substr(md5(l_orderkey || '-' || l_linenumber), 1, 1) < '2'
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- deterministic stratified sampling: first-3-by-hash-order
    // per stratum — the engine-portable form of per-group reservoir
    // sampling (rank by md5(id), not by a stateful RNG). Scale shape:
    // a `row_number` window partitioned by the ~5 event types would
    // fully sort each stratum in ONE task (5 tasks × 20 TB at the
    // 100 TB target); `GroupedTopK` instead prunes to ≤ k candidates
    // per input partition (narrow), then merges inside a hash agg —
    // no partition-wide sort keyed on the stratum ---------------------
    "q81_stratified_sample" -> Q(
      impl = (s, d) => {
        val ev = Tables.load(s, d, "events")
          .select(col("event_type"), col("event_id"))
        GroupedTopK.withRowNumber(ev, "event_type",
            Seq(md5(col("event_id").cast("string")), col("event_id")),
            k = 3, rankCol = "rk")
          .select("event_type", "event_id", "rk")
          .orderBy("event_type", "rk")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, event_id,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
          FROM events)
        SELECT event_type, event_id, CAST(rk AS BIGINT) AS rk
        FROM r WHERE rk <= 3 ORDER BY event_type, rk""")),

    // ---- token-budget corpus sampling: per source, take documents in
    // deterministic hash order until a token budget is filled — the
    // standard "N tokens per domain" curation step. Hash order makes
    // the sample uniform and engine-reproducible; the running-sum
    // cutoff is per-source, so no global coordination. Same
    // `GroupedPrefixSum` scale shape as q93: range-partitioned on
    // (source, h, doc_id), never one task per source ------------------
    "q94_token_budget_sample" -> Q(
      impl = (s, d) => {
        val t = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
          .withColumn("h", md5(concat(lit("budget|"), col("doc_id"))))
        GroupedPrefixSum.withRunningSum(t, "source",
            Seq(col("h"), col("doc_id")), "n_tok", "cum", inclusive = true)
          .filter(col("cum") <= TokenBudget)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sampled_tokens"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 md5('budget|' || doc_id) AS h
          FROM documents),
        c AS (
          SELECT source, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source
                   ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum
          FROM t)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS sampled_tokens
        FROM c WHERE cum <= $TokenBudget
        GROUP BY source ORDER BY source""")),

    // ---- mixture-weighted deterministic sampling: each source gets a
    // target keep-rate (the training-mixture weight) and docs are kept
    // by an md5-prefix Bernoulli draw against that rate — reproducible
    // on any engine, no RNG state, embarrassingly parallel (pure
    // per-row predicate, no shuffle at all before the output sort).
    // The mixture-construction step of corpus assembly ---------------
    "q101_mixture_sample" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
        // explicit contract: sources without a trailing digit group are
        // excluded up front (both engines), instead of leaking through
        // divergent cast-of-empty-string semantics
        val rawSuffix = regexp_extract(col("source"), "(\\d+)$", 1)
        val suffix = rawSuffix.cast("long")
        val rate = (suffix % 4 + 1) / lit(8.0) // 0.125 | 0.25 | 0.375 | 0.5
        val draw = conv(substring(
            md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 6),
          16, 10).cast("double") / lit(16777216.0)
        docs.filter(rawSuffix =!= "").filter(draw < rate)
          .select(col("doc_id"), col("source"),
            round(rate, 3).as("target_rate"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, source,
               round((CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) % 4
                      + 1) / 8.0, 3) AS target_rate
        FROM documents
        WHERE regexp_extract(source, '(\d+)$', 1) <> ''
          AND CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 6)
                   AS BIGINT) / 16777216.0
              < (CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) % 4 + 1)
                / 8.0
        ORDER BY doc_id""")),

    // ---- temperature-scaled mixture sampling: per-source keep rate
    // ∝ cnt^(alpha-1), normalized so the expected kept corpus fraction
    // is TargetFrac — big sources are down-weighted, small sources
    // up-weighted (capped at 1), exactly the cnt^0.7 mixture
    // reweighting of web-corpus assembly. The rate table is
    // dimension-sized (one row per source) → broadcast; the keep
    // decision is the same deterministic md5 Bernoulli draw as q101,
    // so the sample is reproducible on any engine. One groupBy over
    // sources + one broadcast join — no corpus-sized shuffle ----------
    "q107_temperature_mixture" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum("cnt").as("n"),
          sum(pow(col("cnt"), Alpha)).as("sw"))
        val rates = counts.crossJoin(broadcast(tot))
          .select(col("source"),
            round(least(lit(1.0),
              lit(TargetFrac) * col("n") * pow(col("cnt"), Alpha) /
                (col("sw") * col("cnt"))), 6).as("target_rate"))
        val draw = conv(substring(
            md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 6),
          16, 10).cast("double") / lit(16777216.0)
        docs.join(broadcast(rates), "source")
          .filter(draw < col("target_rate"))
          .select(col("doc_id"), col("source"), col("target_rate"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH c AS (SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
        t AS (SELECT sum(cnt) AS n, sum(pow(cnt, $Alpha)) AS sw FROM c),
        r AS (SELECT source,
                     round(least(1.0, $TargetFrac * n * pow(cnt, $Alpha)
                                      / (sw * cnt)), 6) AS target_rate
              FROM c CROSS JOIN t)
        SELECT doc_id, source, target_rate
        FROM documents JOIN r USING (source)
        WHERE CAST('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 6)
                   AS BIGINT) / 16777216.0 < target_rate
        ORDER BY doc_id""")),

    // ---- weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    // key = ln(u)/w with u a deterministic md5 uniform in (0,1] — the
    // k largest keys ARE a weight-proportional sample, drawn in one
    // pass. orderBy(...).limit(k) executes as TakeOrderedAndProject:
    // per-partition bounded top-k + single merge, never a global sort.
    // The mixture-sampling primitive (q101) generalized from
    // independent Bernoulli draws to an exact-size draw ---------------
    "q114_weighted_sample" -> Q(
      impl = (s, d) => {
        val h = expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)")
        val u = (h + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            (log(u) / col("n_chars")).as("es_key"))
          .orderBy(col("es_key").desc, col("doc_id"))
          .limit(WeightedSampleK)
          .select(col("doc_id"), col("source"), round(col("es_key"), 8).as("es_key"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH w AS (SELECT doc_id, source,
                          ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                                AS BIGINT) + 1) / 4503599627370496.0)
                            / n_chars AS es_key
                   FROM documents),
        top AS (SELECT * FROM w ORDER BY es_key DESC, doc_id LIMIT $WeightedSampleK)
        SELECT doc_id, source, round(es_key, 8) AS es_key
        FROM top ORDER BY doc_id"""),
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

    // ---- canonical train/val/test holdout: deterministic md5-bucket
    // assignment (the split survives reshuffles, re-runs, and corpus
    // growth — a doc's split never changes), exact per-(source, split)
    // accounting. Pure per-row predicate, zero shuffles before the
    // final aggregation --------------------------------------------------
    "q163_holdout_split" -> Q(
      impl = (s, d) => {
        val b = conv(substring(md5(concat(lit("split|"), col("doc_id"))), 1, 7),
          16, 10).cast("long") % 100
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tok"),
            when(b < 80, "train").when(b < 90, "val").otherwise("test")
              .as("split"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
          .orderBy("source", "split")
      },
      oracle = Some("""
        WITH a AS (
          SELECT source,
                 CAST('0x' || substr(md5('split|' || doc_id), 1, 7) AS BIGINT)
                   % 100 AS b,
                 len(string_split(text, ' ')) AS n_tok
          FROM documents)
        SELECT source,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM a GROUP BY 1, 2 ORDER BY source, split"""),
      bench = true),

    // ---- deterministic epoch sharding: every doc hashes to one of
    // NShards training shards via a seeded md5 bucket (the q163
    // construction — stable under reshuffles and corpus growth);
    // per-shard doc/token mass shows the stochastic balance a hash
    // shard gives. Pure per-row projection + one hash aggregation —
    // embarrassingly parallel at any scale ---------------------------
    "q171_epoch_shard" -> Q(
      impl = (s, d) => {
        val shard = conv(substring(
            md5(concat(lit("epoch0|"), col("doc_id"))), 1, 7), 16, 10)
          .cast("long") % NShards
        Tables.load(s, d, "documents")
          .select(col("doc_id"), shard.as("shard"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tok"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
            min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
          .orderBy("shard")
      },
      oracle = Some(s"""
        WITH a AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5('epoch0|' || doc_id), 1, 7) AS BIGINT)
                   % $NShards AS shard,
                 len(string_split(text, ' ')) AS n_tok
          FROM documents)
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM a GROUP BY shard ORDER BY shard"""),
      bench = true),

    // ---- largest-remainder (Hamilton) apportionment of a global
    // sampling budget across (source, lang) cells, then the exact
    // deterministic take: every cell gets floor(B·n_cell/N), and the
    // leftover seats go to the largest fractional remainders
    // (remainder desc, cell asc — fully tie-broken). Integer-exact,
    // Σquota ≡ B by construction. The take ranks each cell's docs by
    // a salted md5 draw (stable under reshuffles/corpus growth, same
    // family as q64/q101) and keeps rk ≤ quota — a per-group variable
    // k, which is the window formulation, not per-group top-k. Cell
    // frames are |cells|-bounded (metadata-scale) → broadcast; the
    // doc-side work is one hash shuffle on the cell key ------------
    "q177_quota_alloc" -> Q(
      impl = (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val cnt = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_cell"))
        // |cells| rows: the whole allocation is window math on a
        // metadata-scale frame (single partition is correct here)
        val whole = Window.partitionBy()
        val alloc = cnt
          .withColumn("n", sum("n_cell").over(whole))
          .withColumn("base", expr(s"($Budget * n_cell) div n"))
          .withColumn("rem", expr(s"($Budget * n_cell) % n"))
          .withColumn("brk", row_number().over(
            Window.orderBy(col("rem").desc, col("source"), col("lang"))).cast("long"))
          .withColumn("leftover", lit(Budget) - sum("base").over(whole))
          .withColumn("quota",
            col("base") + when(col("brk") <= col("leftover"), 1L).otherwise(0L))
          .select("source", "lang", "n_cell", "quota")
        val ranked = docs
          .withColumn("rk", row_number().over(
            Window.partitionBy("source", "lang")
              .orderBy(md5(concat(lit("quota:"), col("doc_id").cast("string"))),
                col("doc_id"))).cast("long"))
        val taken = ranked
          .join(broadcast(alloc.select("source", "lang", "quota")), Seq("source", "lang"))
          .filter(col("rk") <= col("quota"))
          .groupBy("source", "lang").agg(count(lit(1)).as("n_taken"))
        alloc.join(taken, Seq("source", "lang"), "left")
          .select(col("source"), col("lang"), col("n_cell"), col("quota"),
            coalesce(col("n_taken"), lit(0L)).as("n_taken"))
          .orderBy("source", "lang")
      },
      oracle = Some(s"""
        WITH cnt AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_cell
                     FROM documents GROUP BY 1, 2),
        tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n FROM cnt),
        alloc AS (SELECT c.source, c.lang, c.n_cell,
                    ($Budget * c.n_cell) // t.n AS base,
                    ($Budget * c.n_cell) % t.n AS rem
                  FROM cnt c CROSS JOIN tot t),
        bonus AS (SELECT source, lang, n_cell, base, rem,
                    CAST(row_number() OVER (
                      ORDER BY rem DESC, source, lang) AS BIGINT) AS brk,
                    CAST($Budget - sum(base) OVER () AS BIGINT) AS leftover
                  FROM alloc),
        quota AS (SELECT source, lang, n_cell,
                    base + CASE WHEN brk <= leftover THEN 1 ELSE 0 END AS quota
                  FROM bonus),
        ranked AS (SELECT dd.source, dd.lang, dd.doc_id,
                     CAST(row_number() OVER (PARTITION BY dd.source, dd.lang
                       ORDER BY md5('quota:' || CAST(dd.doc_id AS VARCHAR)),
                         dd.doc_id) AS BIGINT) AS rk
                   FROM documents dd),
        taken AS (SELECT r.source, r.lang, CAST(count(*) AS BIGINT) AS n_taken
                  FROM ranked r JOIN quota q
                    ON q.source = r.source AND q.lang = r.lang
                  WHERE r.rk <= q.quota GROUP BY 1, 2)
        SELECT q.source, q.lang, q.n_cell, q.quota,
               coalesce(t.n_taken, 0) AS n_taken
        FROM quota q LEFT JOIN taken t
          ON t.source = q.source AND t.lang = q.lang
        ORDER BY q.source, q.lang"""),
      bench = true)
  )
}
