package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{MinHashLsh, SimHash, TextFns}
import graft.multimodal.Multimodal

/** Round-9 batch: video-container frame sampling (the multimodal
  * frame-sample op over a real RIFF/AVI chunk walk), PII scrubbing,
  * Gopher-style composite quality rules, OOV rate against a corpus-
  * derived vocabulary, and SimHash hamming-band near-dup — the
  * bit-LSH counterpart of the MinHash band join.
  */
object Extended16 {

  private val MinhashK = Extended2.MinhashK
  private val Bands = Extended2.Bands

  /** Expected sample size for q181's bounded-cost recall audit. */
  private val RecallSampleTarget = 1000

  /** DuckDB SQL mirroring `Curation.recallAudit` over `src` (a table or a CTE
    * emitted in `prefixCtes`, providing doc_id + text).
    *
    * GUARDED/UNGUARDED ASYMMETRY: the `found` CTE below is the plain
    * (unguarded) all-pairs band join, while the implementation routes
    * through `MinHashLsh.candidatePairs`, whose hot-bucket guard
    * (`BandedLsh`) chain-links any (band, key) bucket holding more than
    * `LshGuard.DefaultMaxBucket` (1000) rows. Parity therefore rests
    * on the precondition that no bucket in the test corpus exceeds
    * that cap — LshGuardSpec's "no-op on a realistic corpus" test
    * pins it for the sf0.01 fixture, and LshGuardSpec's recall tests
    * cover the guarded regime directly. A future fixture with >1000
    * signature-colliding docs would fail hash-comparison HERE, and
    * the guard would be why (run with maxBucket = Int.MaxValue to
    * confirm).
    */
  private def recallAuditSql(prefixCtes: String, src: String): String = {
    val sigSelect = (0 until MinhashK).map(i =>
      s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
        s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
    val r = MinhashK / Bands
    val bandRows = (0 until Bands).map { b =>
      val key = (b * r until (b + 1) * r).map(i => s"s$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key FROM sig"
    }.mkString("\n UNION ALL\n ")
    s"""
        WITH $prefixCtes
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
                  FROM sh x JOIN sh y
                    ON x.sh = y.sh AND x.doc_id < y.doc_id
                  GROUP BY 1, 2),
        exact AS (SELECT a, b,
                         c / (sa.n + sb.n - c) AS j
                  FROM inter
                    JOIN sizes sa ON sa.doc_id = a
                    JOIN sizes sb ON sb.doc_id = b
                  WHERE c / (sa.n + sb.n - c) >= 0.3),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows),
        found AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                  FROM band l JOIN band r
                    ON l.band = r.band AND l.key = r.key
                       AND l.doc_id < r.doc_id)
        SELECT CAST(floor(e.j * 10) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(sum(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_found
        FROM exact e LEFT JOIN found f ON f.a = e.a AND f.b = e.b
        GROUP BY 1 ORDER BY bucket"""
  }

  /** DuckDB expression reproducing the 16-bit simhash vote over a
    * PRE-COMPUTED 4-hex-char hash-prefix column (the q29 oracle's
    * construction after the round-19 hash-dedup migration: dedup and
    * aggregate on `substr(md5(tok), 1, 4)`, a bijection of the
    * 16-bit hash long — the Extended24.simhash64SqlFromHex pattern
    * at 4 nibbles). Shared with the q189 calibration oracle
    * (Extended23).
    */
  private[queries] def simhashSqlFromHex(hex: String): String =
    (0 until SimHash.bits).map { b =>
      val hexPos = 4 - b / 4
      val pw = 1 << (b % 4)
      val nib = s"(instr('0123456789abcdef', substr($hex, $hexPos, 1)) - 1)"
      s"CASE WHEN 2 * sum(($nib // $pw) % 2) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  val queries: Map[String, Q] = Map(
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

    // ---- SimHash hamming-band near-dup: the bit-LSH counterpart of
    // the MinHash band join. 16-bit fingerprints cut into 4 nibble
    // bands; docs sharing any band key become candidates (equi-join,
    // never all-pairs), then the exact hamming distance over the full
    // fingerprint verifies candidates at <= 1 differing bit. Both
    // engines compute the identical md5-nibble fingerprint ------------
    "q160_simhash_hamming" -> Q(
      impl = (s, d) => {
        // one-pass hash-dedup fingerprints (round 19 retired the
        // string-dedup mode) — the oracle dedups on the hex prefix,
        // a bijection of the 16-bit hash (SimHashOnePassSpec)
        val sigs = SimHash.fingerprintsFromTokens(
          Tables.docsParallel(s, d)
            .withColumn("t", TextFns.tokens(col("text"))),
          "doc_id", "t", 1)
        val banded = sigs.select(col("doc_id"), col("sh"),
            explode(array((0 until 4).map(lit(_)): _*)).as("band"))
          .withColumn("key",
            expr("shiftright(sh, band * 4)").bitwiseAND(lit(15L)))
          // persist measured 2x faster than relying on ReuseExchange
          // for this self-join; the harness clearCache()s per query,
          // so the cached blocks do not outlive the run
          .persist()
        val cands = banded.toDF("a", "sa", "band", "key")
          .join(banded.toDF("b", "sb", "band", "key"), Seq("band", "key"))
          .filter(col("a") < col("b"))
          .select("a", "b", "sa", "sb")
          .distinct()
        cands
          .withColumn("hamming", SimHash.hamming(col("sa"), col("sb")))
          .filter(col("hamming") <= 1)
          .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
          .orderBy("a", "b")
      },
      oracle = Some(s"""
        WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
        hx AS (SELECT DISTINCT doc_id, substr(md5(tok), 1, 4) AS hx FROM tk),
        sig AS (SELECT doc_id, ${simhashSqlFromHex("hx")} AS sh
                FROM hx GROUP BY doc_id),
        b AS (SELECT doc_id, sh, unnest(range(0, 4)) AS band FROM sig),
        bk AS (SELECT doc_id, sh, band, (sh >> (band * 4)) & 15 AS key FROM b),
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                        x.sh AS sa, y.sh AS sb
                 FROM bk x JOIN bk y
                   ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 1
        ORDER BY a, b"""),
      bench = true),

    // ---- incremental near-dup against a prebuilt LSH index: the
    // production shape — the standing corpus' banded signatures are
    // the INDEX (persisted here; written to a table in a real
    // deployment), and a new delta batch probes it with one equi-join
    // on (band, key), never recomputing corpus LSH per delta. The
    // carried signature columns give the match estimate without a
    // second lookup. Index build is O(corpus) once; per-delta cost is
    // O(delta + collisions) ---------------------------------------------
    "q161_incremental_neardup" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs = MinHashLsh
          .signaturesFromTokens(docs, "doc_id", "t", 3, MinhashK)
          .persist() // index + probe sides; cleared by harness clearCache
        // index side carries the hot-bucket cap: a degenerate band key
        // multiplies every colliding probe row by the bucket size, so
        // buckets over the threshold keep maxBucket representatives
        // (plenty for the collides-with-corpus decision; a no-op on
        // non-degenerate data — see functions/LshGuard.scala). The
        // banded frame is persisted BEFORE capBuckets per BandedLsh.splitHot's
        // contract: the eager occupancy probe materializes the cache,
        // so the probe and the probe-join read the same cached blocks
        // instead of re-deriving band keys from the sigs cache twice.
        val indexBanded = MinHashLsh.bandKeys(
          sigs.filter(col("doc_id") % 10 =!= 0), "doc_id", MinhashK, Bands)
          .persist()
        val index = graft.functions.LshGuard.capBuckets(
          indexBanded, "doc_id", graft.functions.LshGuard.DefaultMaxBucket)
        val probe = MinHashLsh.bandKeys(
          sigs.filter(col("doc_id") % 10 === 0), "doc_id", MinhashK, Bands)
        val matches = (0 until MinhashK)
          .map(i => when(col(s"l.s$i") === col(s"r.s$i"), 1).otherwise(0))
          .reduce(_ + _)
        probe.as("l")
          .join(index.as("r"),
            col("l.band") === col("r.band") && col("l.key") === col("r.key"))
          .select(col("l.doc_id").as("delta_doc"),
            col("r.doc_id").as("index_doc"),
            round(matches / lit(MinhashK.toDouble), 4).as("est"))
          .distinct()
          .filter(col("est") >= 0.5)
          .orderBy("delta_doc", "index_doc")
      },
      oracle = Some {
        val sigSelect = (0 until MinhashK).map(i =>
          s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
            s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
        val r = MinhashK / Bands
        val bandRows = (0 until Bands).map { b =>
          val key = (b * r until (b + 1) * r).map(i => s"s$i").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
            (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
        }.mkString("\n UNION ALL\n ")
        val m = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows)
        SELECT DISTINCT l.doc_id AS delta_doc, r.doc_id AS index_doc,
               round(($m) / ${MinhashK.toDouble}, 4) AS est
        FROM band l JOIN band r
          ON l.band = r.band AND l.key = r.key
        WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
          AND round(($m) / ${MinhashK.toDouble}, 4) >= 0.5
        ORDER BY delta_doc, index_doc"""
      },
      bench = true),

    // ---- LSH recall audit: how many EXACT-Jaccard near-dup pairs does
    // the band join actually surface, per similarity bucket? Exact
    // pairs come from the raw shingle-set self-join (ground truth);
    // "found" means the pair shares at least one band key. This is the
    // measurement that justifies (k, bands) choices before a corpus-
    // wide rollout — the audit itself is LSH-shaped (band equi-join +
    // shingle equi-join), never all-pairs. The exact ground truth is
    // still super-linear in posting-list density; the bounded-cost
    // variant for corpus scale is q181's sampled audit -------------------
    "q162_lsh_recall_audit" -> Q(
      impl = (s, d) => graft.corpus.Curation
        .recallAudit(3, 0.3, MinhashK, Bands)(Tables.docsParallel(s, d)),
      oracle = Some(recallAuditSql(prefixCtes = "", src = "documents")),
      bench = true),

    // ---- sampled LSH recall audit: q162's measurement at a cost that
    // does NOT grow with the corpus. A deterministic md5 draw keeps an
    // expected `RecallSampleTarget` documents (rate = target/N, so the
    // audit's exact-Jaccard ground truth is O(target²) posting-list
    // work at ANY corpus size); "found" for a sampled pair is computed
    // from the pair's own band keys, which depend only on the two
    // documents — so it equals exactly what the full-corpus band join
    // would report for that pair, and per-bucket recall is an unbiased
    // estimate of the full audit's. This is the 100 TB shape: q162's
    // exact ground truth is super-linear in posting-list density and
    // exists to calibrate (k, bands) at test scale ------------------------
    "q181_sampled_recall_audit" -> Q(
      impl = (s, d) => graft.corpus.Curation
        .sampledRecallAudit(RecallSampleTarget, "audit:", 3, 0.3,
          MinhashK, Bands)(Tables.docsParallel(s, d)),
      oracle = Some(recallAuditSql(
        prefixCtes = s"""
        nn AS (SELECT count(*) AS n FROM documents),
        samp AS (SELECT d.* FROM documents d CROSS JOIN nn
                 WHERE CAST('0x' || substr(md5('audit:' ||
                         CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                       / 16777216.0
                     < least(1.0, ${RecallSampleTarget.toDouble} / n)),""",
        src = "samp")),
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
      bench = true)
  )
}
