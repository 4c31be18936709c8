package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.corpus.Curation
import graft.functions.{MinHashLsh, SimHash, SimHash64, TextFns, VecFns}
import graft.operators.{Components, EmbedNearDup}
import Shared.{MinhashK, Bands, EmbDim, Threshold, shingleCtes, hashCte, sigSelect,
  weightRows, powerRows}

/** Near-duplicate detection with the three banded-LSH families over
  * `documents` and `embeddings`: MinHash signatures over word
  * 3-gram shingles, 16- and 64-bit SimHash fingerprints, and
  * random-hyperplane buckets. Around the band joins: near-dup
  * components, canonical representatives, triangles and PageRank on
  * the near-dup graph, cross-source and cross-modality audits,
  * edit-distance verification, incremental probes, recall audits, and
  * the calibrate-then-execute queries that pick a band config from a
  * candidate-pair budget (q184-q191).
  *
  * Oracles replay each family exactly: md5-prefix base hashes and the
  * 2-universal MinHash constants (`Shared.sigSelect`), md5-derived ±1
  * hyperplanes as literal VALUES (`Shared.weightRows`), and the
  * SimHash majority vote over hex nibbles.
  */
object LshQueries {

  /** Hyperplane geometry of q53, q92 and q169: `Bands` bands of 4
    * planes (16 hyperplanes).
    */
  private val PlanesPerBand = 4

  /** Shared doc→distinct-token→simhash pipeline (same as q29):
    * one-pass hash-dedup fingerprints (round 19 retired the
    * string-dedup mode) — the oracle dedups on the hex prefix, a
    * bijection of the 16-bit hash (SimHashOnePassSpec).
    */
  private def simhashSigs(s: org.apache.spark.sql.SparkSession, d: String) =
    SimHash.fingerprintsFromTokens(
      Tables.docsParallel(s, d)
        .withColumn("t", split(col("text"), " ")),
      "doc_id", "t", 1)
      .select(col("doc_id"), col("sh").as("simhash"))

  /** DuckDB CTE: 16-bit simhash per doc (identical to q29's oracle). */
  private def simhashCte: String =
    s"""tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
        hx AS (SELECT DISTINCT doc_id, substr(md5(tok), 1, 4) AS hx FROM tk),
        sig AS (SELECT doc_id, CAST(${simhashSqlFromHex("hx")} AS BIGINT) AS simhash
                FROM hx GROUP BY doc_id)"""

  /** DuckDB CTEs: word-3-gram MinHash signatures + banded LSH pairs
    * with est >= `minEst` (same construction as q27/q58 oracles).
    */
  private def lshPairCtes(minEst: Double): String = {
    val r = MinhashK / Bands
    val bandRows = (0 until Bands).map { b =>
      val key = (b * r until (b + 1) * r).map(i => s"s$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
        (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
    }.mkString("\n UNION ALL\n ")
    val matches = (0 until MinhashK)
      .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows),
        pairs AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM band l JOIN band r
            ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
          WHERE ($matches) / ${MinhashK.toDouble} >= $minEst)"""
  }

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
                  WHERE c / (sa.n + sb.n - c) >= 0.3),$hashCte,
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
    * 16-bit hash long — the `simhash64SqlFromHex` pattern at 4
    * nibbles). Shared with the q60 and q189 oracles.
    */
  private def simhashSqlFromHex(hex: String): String =
    (0 until SimHash.bits).map { b =>
      val hexPos = 4 - b / 4
      val pw = 1 << (b % 4)
      val nib = s"(instr('0123456789abcdef', substr($hex, $hexPos, 1)) - 1)"
      s"CASE WHEN 2 * sum(($nib // $pw) % 2) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")

  // q184/q185: LSH self-calibration — the "calibration knob" the decade
  // curve documents, turned into operators for BOTH banded-LSH
  // families:
  //
  //   - q184 (embedding / hyperplane): for each planes-per-band config,
  //     ONE corpus pass computes the exact per-bucket occupancy
  //     histogram and from it the exact banded-join cost —
  //     Σ m·(m−1)/2 candidate pairs — plus the bucket count and the
  //     worst bucket; selects the narrowest config whose candidate load
  //     fits a per-vector pair budget (the monotone trade: fewer
  //     planes → higher recall → more pairs), widest as fallback.
  //   - q185 (text / MinHash): the same occupancy/cost sweep over the
  //     band-count grid of a fixed k=12 signature, each config tagged
  //     with its analytic recall threshold j50 — the Jaccard at which
  //     the banded s-curve reaches 50% detection, (1−0.5^(1/b))^(1/r) —
  //     and selection = the highest-recall (most-bands) config fitting
  //     the budget, fewest-bands as fallback. Signatures are computed
  //     once by the zero-shuffle `signaturesFromTokens` pass and
  //     persisted; the grid sweep re-reads the tiny cached signature
  //     frame, never the corpus.
  //
  // At 100 TB each sweep is a groupBy over short keys per config — the
  // same shape as the candidate join it calibrates, minus the join —
  // so tuning costs one scan, not a dry-run of the dedup.
  //
  // Oracles: q184 replays the identical md5-derived ±1 hyperplanes per
  // config as literal VALUES (the q53/q31 pattern); q185 replays the
  // md5-prefix MinHash signature construction (the q162 pattern) and
  // the per-band md5 keys, with j50 emitted as the identical rounded
  // literal on both sides.

  /** q184/q187: candidate planes-per-band grid, narrowest first. q187's
    * impl derives its grid from the vector count
    * (`EmbedNearDup.planeGridFor`), which equals this grid at every
    * scale the oracle runs (≤2k vectors) and extends past it only on
    * decade corpora.
    */
  private val PlaneGrid = Seq(2, 4, 6, 8)

  /** q184/q187: accepted expected candidate pairs per corpus vector. */
  private val PairsPerVecBudget = 20L

  /** q185/q186/q190: candidate band-count grid (divisors of k), fewest
    * first.
    */
  private val BandGrid = Seq(2, 3, 4, 6)

  /** q185/q186/q189-q191: accepted candidate pairs per signed
    * document, the family budget.
    */
  private val PairsPerDocBudget = 20L

  /** Analytic 50%-detection Jaccard of a (b bands × r rows) banded
    * join — the banded s-curve 1−(1−j^r)^b solved at 0.5 — rounded to
    * 6 places so the Scala impl and the SQL literal agree bit-exactly.
    */
  private def j50(b: Int): Double = {
    val r = MinhashK / b
    BigDecimal(math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  // q186-q190 close the calibration loop — q184/q185 *report* the
  // LSH config fitting a candidate-pair budget; these queries
  // *consume* the selection and execute the dedup with it.
  //
  // q186 runs [[Curation.calibratedNearDup]]: one signature pass, the
  // q185 band-count sweep, then the banded near-dup filter executed
  // with the SELECTED config. The oracle replays the whole chain —
  // sweep, selection rule, and the selected config's band join — as
  // chained CTEs (the q182 trajectory-reproducibility pattern): every
  // grid config's drop-set is a CTE, and the final union keeps only
  // the config the selection rule picked, so a divergence in EITHER
  // the sweep arithmetic OR the executed band join breaks the hash.
  //
  // GUARDED/UNGUARDED ASYMMETRY (same contract as q161/q162): the
  // implementation routes pairs through `MinHashLsh.candidatePairs`
  // whose LshGuard chain-links buckets beyond DefaultMaxBucket; the
  // oracle's band join is unguarded. Parity rests on the harness
  // corpus having no degenerate bucket, pinned by LshGuardSpec.

  /** q187: minimum quantized cosine of an embedding near-dup pair. */
  private val MinCos = 0.4

  /** q189 (SimHash family): candidate bits-per-band grid — the shared
    * operator's default, so the oracle replays exactly the grid
    * `SimHash.calibratedPairs` sweeps.
    */
  private val WidthGrid = SimHash.DefaultWidthGrid

  // q191: the 64-bit SimHash family.
  //
  // The 16-bit fingerprint's calibration contract is provably
  // unsatisfiable from ~5 M docs up (the keyspace holds 65 k distinct
  // fingerprints, so bucket occupancy grows linearly in N and
  // candidate pairs quadratically — the sf100 sweep priced out every
  // width and the guarded fallback became the permanent path).
  // [[graft.functions.SimHash64]] is the standard fix (Charikar's
  // construction at the 64-bit width of Manku–Jain–Sadikov's web-scale
  // dedup): 16 md5 nibbles, widths 4/8/16, keyspace headroom for
  // decades.
  //
  // q191 is the q189 calibrate-then-execute shape on the 64-bit
  // family, over 3-token SHINGLES rather than q189's unigram tokens:
  // the harness/ScaleGen vocabulary is ~31 words, so every document
  // holds most of the unigram universe and the majority-vote
  // fingerprint degenerates to a near-global codeword (measured at
  // 50 k docs: bit 0 set in 0% of docs, bit 32 in 97% — fingerprints
  // concentrate and every width prices out REGARDLESS of fingerprint
  // bits). Trigram shingles span a ~31³ feature space (~58 mostly
  // doc-specific features per doc), which is the same discriminative
  // feature set the MinHash family shingles on — SimHash's feature
  // choice matters as much as its width, and the two families now
  // share it. One fingerprint pass, the width sweep as pure bit
  // arithmetic over it, narrowest fitting width selected (widest as
  // fallback), then the hamming-verified band join at the selected
  // width through the hot-bucket-capped `BandedLsh` band join. The
  // hamming threshold is 3 — and the banded index is structurally
  // COMPLETE for it at widths up to 16: 64/w ≥ 4 bands means a pair
  // within hamming 3 cannot spread its differing bits across all
  // bands (pigeonhole), so it collides somewhere. The w=32 rung (2
  // bands, complete only for hamming ≤ 1) is the explicit recall trade
  // the selection makes when a corpus outgrows the 2^16-per-band
  // keyspace (~650 k docs at a 20-pairs/doc budget); wherever ≤16
  // fits, the selection keeps full hamming-3 completeness — pinned by
  // the sf1 recall audit in ScaleCalibrationSpec. The oracle replays
  // sweep, selection rule, and the selected width's band join as
  // chained CTEs, exactly as q189's does.
  //
  // GUARDED/UNGUARDED ASYMMETRY (q189's contract): the implementation
  // chain-links buckets beyond DefaultMaxBucket; the oracle's band
  // join is unguarded. Parity rests on the harness corpus having no
  // degenerate bucket at the SELECTED width (LshGuardSpec pins the
  // guard's own semantics; the 64-bit keyspace makes over-cap buckets
  // strictly rarer than the 16-bit family's).

  /** 64-bit near-dup radius (Manku–Jain–Sadikov use 3 at 64 bits). */
  private val HammingMax = 3

  /** q191: candidate bits-per-band grid of the 64-bit family. */
  private val WidthGrid64 = SimHash64.DefaultWidthGrid

  /** DuckDB expression reproducing [[SimHash64.simhashAggFromHash]]
    * over a PRE-COMPUTED 16-hex-char hash column (the oracle's twin
    * of Spark's hash-long: hex prefix ↔ long is a bijection, so
    * deduping and aggregating on it matches the impl exactly) — the
    * `simhashSqlFromHex` construction at 16 nibbles, CAST back to
    * BIGINT because the `1<<63` term promotes the sum to HUGEINT
    * (the cast is what keeps the oracle's shift/xor/bit_count
    * arithmetic in 64-bit two's complement, matching Spark's long
    * exactly).
    */
  private def simhash64SqlFromHex(hex: String): String = {
    val terms = (0 until SimHash64.bits).map { b =>
      val hexPos = SimHash64.bits / 4 - b / 4
      val pw = 1 << (b % 4)
      val nib = s"(instr('0123456789abcdef', substr($hex, $hexPos, 1)) - 1)"
      s"CASE WHEN 2 * sum(($nib // $pw) % 2) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"CAST($terms AS BIGINT)"
  }

  val queries: Map[String, Q] = Map(
    // ---- MinHash signatures (k=12, word 3-gram shingles) -----------
    "q26_minhash_sig" -> Q(
      impl = (s, d) => {
        // One-pass local form: each doc's k mins complete inside the
        // scan (no shingle explode, no aggregation shuffle); values
        // are bit-equal to the exploded formulation (MinHashAggSpec).
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, MinhashK)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${shingleCtes(3)}, $hashCte
        SELECT doc_id, $sigSelect
        FROM hh GROUP BY doc_id ORDER BY doc_id"""),
      bench = true),

    // ---- LSH candidate pairs (4 bands × 3 rows) --------------------
    "q27_lsh_pairs" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs =
          MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, MinhashK)
        MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .orderBy("a", "b")
      },
      oracle = Some {
        val r = MinhashK / Bands
        val bandRows = (0 until Bands).map { b =>
          val key = (b * r until (b + 1) * r).map(i => s"s$i")
            .mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
            (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
        }.mkString("\n UNION ALL\n ")
        val matches = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH ${shingleCtes(3)}, $hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows)
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               round(($matches) / ${MinhashK.toDouble}, 4) AS est
        FROM band l JOIN band r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
        ORDER BY a, b"""
      }),

    // ---- SimHash fingerprints --------------------------------------
    "q29_simhash" -> Q(
      impl = (s, d) =>
        // one-pass hash-dedup fingerprints (round 19 retired the
        // string-dedup compatibility mode): per-doc tokens dedup on
        // the 16-bit md5 prefix, the oracle on its hex form — a
        // bijection, so both sides select the same vote set
        // (SimHashOnePassSpec pins it)
        SimHash.fingerprintsFromTokens(
          Tables.docsParallel(s, d)
            .withColumn("t", split(col("text"), " ")),
          "doc_id", "t", 1)
          .select(col("doc_id"), col("sh").as("simhash"))
          .orderBy("doc_id"),
      oracle = Some {
        s"""
        WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
        hx AS (SELECT DISTINCT doc_id, substr(md5(tok), 1, 4) AS hx FROM tk)
        SELECT doc_id, CAST(${simhashSqlFromHex("hx")} AS BIGINT) AS simhash
        FROM hx GROUP BY doc_id ORDER BY doc_id"""
      }),

    // ---- embedding-cosine near-duplicate pairs (banded hyperplane
    // LSH candidates + exact verify — the 100 TB shape: candidate
    // generation is an equi-join on (band, key), never an all-pairs
    // broadcast; scores of examined pairs are exact. The oracle
    // replicates the identical band construction in SQL (the q31
    // pattern), so results hash-match by construction. The exact
    // quadratic baseline survives as the guarded
    // EmbedNearDup.allPairs, recall-checked in VectorSpec ------------
    "q53_embed_neardup" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        import graft.functions.VecFns
        val all = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
        graft.operators.EmbedNearDup.bandedPairs(all, "vec_id",
            bands = Bands, planesPerBand = PlanesPerBand,
            dim = EmbDim, minCos = 0.4)
          .orderBy("a", "b")
      },
      oracle = Some {
        val nPlanes = Bands * PlanesPerBand
        val pw = powerRows(PlanesPerBand)
        s"""
        WITH ${VectorQueries.quantCtes},
        w(j, i, wt) AS (VALUES ${weightRows(nPlanes)}),
        pw(m, pv) AS (VALUES $pw),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS p
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2),
        bk AS (
          SELECT vec_id, j // $PlanesPerBand AS band,
                 CAST(sum(CASE WHEN p >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN pw ON pw.m = j % $PlanesPerBand
          GROUP BY 1, 2),
        pairs AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM bk x JOIN bk y
            ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        dots AS (
          SELECT p.a, p.b, CAST(sum(xa.e * xb.e) AS BIGINT) AS dot
          FROM pairs p
            JOIN qv xa ON xa.vec_id = p.a
            JOIN qv xb ON xb.vec_id = p.b AND xb.i = xa.i
          GROUP BY 1, 2),
        cosv AS (
          SELECT a, b, round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cos_r
          FROM dots
            JOIN norms na ON na.vec_id = a
            JOIN norms nb ON nb.vec_id = b)
        SELECT a, b, cos_r FROM cosv WHERE cos_r >= 0.4 ORDER BY a, b"""
      }),

    // ---- end-to-end corpus cleaning: the composed training-data
    // pipeline — quality filter → language filter → exact dedup →
    // LSH near-dup removal → surviving document ids ------------------
    "q58_corpus_pipeline" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val filtered = docs.filter(
          TextFns.punctRatio(col("text")) < 0.1
            && size(col("t")) >= 10
            && TextFns.langIdentifyFromTokens(col("t")) === "en")
        // exact dedup: keep the smallest doc_id per content hash
        val keepIds = filtered
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val kept = filtered.join(keepIds, Seq("doc_id"), "left_semi")
          .persist()
        // near-dup removal: LSH candidates with est >= 0.5 drop the
        // larger id of each pair
        val sigs =
          MinHashLsh.signaturesFromTokens(kept, "doc_id", "t", 3, MinhashK)
        val dropIds = MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
          .select(col("b").as("doc_id")).distinct()
        kept.join(dropIds, Seq("doc_id"), "left_anti")
          .select("doc_id")
          .orderBy("doc_id")
      },
      oracle = Some {
        val r = MinhashK / Bands
        val bandRows = (0 until Bands).map { b =>
          val key = (b * r until (b + 1) * r).map(i => s"s$i")
            .mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
            (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
        }.mkString("\n UNION ALL\n ")
        val matches = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""
        WITH filtered AS (
          SELECT doc_id, text FROM documents
          WHERE round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                  / length(text), 4) < 0.1
            AND len(string_split(text, ' ')) >= 10
            AND (CASE WHEN len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'to')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('der', 'die', 'das', 'und', 'ist')))
                   AND len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'to')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('le', 'la', 'les', 'et', 'est')))
                 THEN 'en'
                 WHEN len(list_filter(string_split(text, ' '),
                        x -> x IN ('der', 'die', 'das', 'und', 'ist')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('le', 'la', 'les', 'et', 'est')))
                 THEN 'de' ELSE 'fr' END) = 'en'),
        kept AS (
          SELECT doc_id, text FROM filtered
          WHERE doc_id IN (SELECT min(doc_id) FROM filtered GROUP BY md5(text))),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)), $hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows),
        pairs AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                 round(($matches) / ${MinhashK.toDouble}, 4) AS est
          FROM band l JOIN band r
            ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
        dropids AS (SELECT DISTINCT b AS doc_id FROM pairs WHERE est >= 0.5)
        SELECT doc_id FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM dropids)
        ORDER BY doc_id"""
      },
      bench = true),

    // ---- banded SimHash near-dup (Manku-style exact Hamming<=3):
    // 4 bands x 4 bits — pigeonhole guarantees every pair within
    // Hamming 3 shares a band, so the banded equi-join + post-filter
    // is EXACT while scanning a fraction of the N^2 pairs. The oracle
    // is the brute-force quadratic join — results must be identical --
    "q60_simhash_pairs" -> Q(
      impl = (s, d) => {
        val sigs = simhashSigs(s, d)
        // Persist: both self-join sides consume this frame; without
        // materialization the whole token-explode → 16-bit-sum
        // signature pipeline would run twice.
        val banded = sigs.select(col("doc_id"), col("simhash"),
            explode(array((0 until 4).map(b => struct(lit(b).as("band"),
              (shiftright(col("simhash"), 4 * b).bitwiseAND(lit(15L)))
                .as("key"))): _*)).as("bk"))
          .select(col("doc_id"), col("simhash"),
            col("bk.band").as("band"), col("bk.key").as("key"))
          .persist()
        val l = banded.toDF("a", "a_sim", "band", "key")
        val r = banded.toDF("b", "b_sim", "band", "key")
        val cand = l.join(r, Seq("band", "key"))
          .filter(col("a") < col("b"))
          .select("a", "b", "a_sim", "b_sim").distinct()
        cand
          .withColumn("hamming",
            SimHash.hamming(col("a_sim"), col("b_sim")).cast("int"))
          .filter(col("hamming") <= 3)
          .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
          .orderBy("hamming")
      },
      oracle = Some(s"""
        WITH $simhashCte
        SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3
        GROUP BY 1 ORDER BY hamming""")),

    // ---- connected components over LSH near-dup pairs (est >= 0.5):
    // distributed min-label propagation; the oracle re-derives the
    // same clusters with a recursive reachability CTE ----------------
    "q61_lsh_components" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs =
          MinHashLsh.signaturesFromTokens(docs, "doc_id", "t", 3, MinhashK)
        val pairs = MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
        Components.connectedComponents(pairs, "a", "b")
          .select(col("node").as("doc_id"), col("component"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${lshPairCtes(0.5)},
        sym AS (SELECT a AS x, b AS y FROM pairs
                UNION SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT x, x FROM sym
          UNION
          SELECT s.x, r.lab FROM sym s JOIN reach r ON r.node = s.y)
        SELECT node AS doc_id, min(lab) AS component
        FROM reach GROUP BY node ORDER BY doc_id""")),

    // ---- embedding near-dup clustering: the full scale-shape
    // composition — banded hyperplane LSH candidates (equi-join) →
    // exact cosine verify → pointer-doubling connected components.
    // The oracle replicates the band construction and clusters with a
    // recursive reachability CTE -------------------------------------
    "q92_embed_components" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val all = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
        val pairs = EmbedNearDup.bandedPairs(all, "vec_id",
          bands = Bands, planesPerBand = PlanesPerBand,
          dim = EmbDim, minCos = 0.45)
        Components.connectedComponents(pairs, "a", "b")
          .select(col("node").as("vec_id"), col("component"))
          .orderBy("vec_id")
      },
      oracle = Some {
        val nPlanes = Bands * PlanesPerBand
        val pw = powerRows(PlanesPerBand)
        s"""
        WITH RECURSIVE
        f AS (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS nsq
                  FROM qv GROUP BY vec_id),
        w(j, i, wt) AS (VALUES ${weightRows(nPlanes)}),
        pw(m, pv) AS (VALUES $pw),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS p
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2),
        bk AS (
          SELECT vec_id, j // $PlanesPerBand AS band,
                 CAST(sum(CASE WHEN p >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN pw ON pw.m = j % $PlanesPerBand
          GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM bk x JOIN bk y
            ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        dots AS (
          SELECT c.a, c.b, CAST(sum(xa.e * xb.e) AS BIGINT) AS dot
          FROM cand c
            JOIN qv xa ON xa.vec_id = c.a
            JOIN qv xb ON xb.vec_id = c.b AND xb.i = xa.i
          GROUP BY 1, 2),
        pairs AS MATERIALIZED (
          SELECT a, b FROM dots
            JOIN norms na ON na.vec_id = a
            JOIN norms nb ON nb.vec_id = b
          WHERE round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6)
            >= 0.45),
        sym AS MATERIALIZED (SELECT a AS x, b AS y FROM pairs
                UNION SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT x, x FROM sym
          UNION
          SELECT s.x, r.lab FROM sym s JOIN reach r ON r.node = s.y)
        SELECT node AS vec_id, min(lab) AS component
        FROM reach GROUP BY node ORDER BY vec_id"""
      }),

    // ---- near-dup clusters → canonical representative: LSH pairs →
    // connected components (as q61), then per cluster keep the
    // highest-quality member (longest doc, doc_id tiebreak) — the
    // "collapse duplicates, keep the best copy" release step. Docs in
    // no pair are their own singleton cluster via left join +
    // coalesce, so the output partitions the corpus. min_by carries
    // one winner per group through the hash aggregation — no window,
    // no per-group sort ----------------------------------------------
    "q102_cluster_canonical" -> Q(
      impl = (s, d) => {
        val docs0 = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs =
          MinHashLsh.signaturesFromTokens(docs0, "doc_id", "t", 3, MinhashK)
        val pairs = MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
        val comp = Components.connectedComponents(pairs, "a", "b")
          .withColumnRenamed("node", "doc_id")
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("n_chars"))
        // (quality desc, doc_id asc) as a lexicographic struct key —
        // no packed-scalar range assumptions at any n_chars/doc_id
        val key = struct((-col("n_chars")).as("q"), col("doc_id").as("id"))
        docs.join(comp, Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .groupBy("component")
          .agg(min(key).getField("id").as("kept_doc"),
            max("n_chars").as("kept_chars"),
            count(lit(1)).as("n_members"))
          .orderBy("component")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${lshPairCtes(0.5)},
        sym AS (SELECT a AS x, b AS y FROM pairs
                UNION SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT x, x FROM sym
          UNION
          SELECT s.x, r.lab FROM sym s JOIN reach r ON r.node = s.y),
        comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
        lab AS (SELECT d.doc_id,
                       coalesce(c.component, d.doc_id) AS component,
                       d.n_chars
                FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        SELECT component,
               min({'q': -n_chars, 'id': doc_id}).id AS kept_doc,
               CAST(max(n_chars) AS BIGINT) AS kept_chars,
               CAST(count(*) AS BIGINT) AS n_members
        FROM lab GROUP BY 1 ORDER BY component""")),

    // ---- triangle count on the LSH near-dup graph: edges are the
    // q27-style banded MinHash candidate pairs (est >= 0.5). Edges are
    // oriented low→high by (degree, id) — the standard bound that
    // keeps every directed 2-path fan-out O(sqrt(|E|)) even on skewed
    // graphs — then one self-join builds 2-paths and one semi-check
    // closes them. Count is orientation-invariant, so the oracle's
    // naive a<b<c three-way join must agree exactly ------------------
    "q117_lsh_triangles" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs = MinHashLsh.signaturesFromTokens(
          docs, "doc_id", "t", 3, MinhashK)
        val pairs = MinHashLsh
          .candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
          .select(col("a"), col("b"))
          .persist() // consumed by degree/orientation/closure joins
        // ONE incremental take is both the size gate and the collect
        // (the Components r21 fusion): under the cap, take(n+1)
        // returned the full edge set and its length IS n_edges — the
        // former count()-then-collect() pair executed the cached pair
        // scan twice. Beyond the cap the oriented-join plan takes over
        // (and pays the count the output needs anyway).
        val es = pairs.as[(Long, Long)].take(500001)
        if (es.length <= 500000) {
          val nEdgesL = es.length.toLong
          val adj = es.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
          // oracle shape: (a,b),(b,c) canonical pairs closed by (a,c)
          val nTrisL = es.iterator.map { case (a, b) =>
            val bn = adj.getOrElse(b, Set.empty)
            adj.getOrElse(a, Set.empty).count(bn.contains)
          }.sum.toLong
          val nNodesL = es.iterator.flatMap(p => Iterator(p._1, p._2)).toSet.size.toLong
          pairs.unpersist()
          Seq((nNodesL, nEdgesL, nTrisL))
            .toDF("n_nodes", "n_edges", "n_triangles")
        } else {
          val sym = pairs.select(col("a").as("u"), col("b").as("v"))
            .union(pairs.select(col("b").as("u"), col("a").as("v")))
          // node-keyed frames are |V|-bounded (≪ edges on any dense
          // graph) → broadcast both degree attachments; the closing
          // e3 probe broadcasts the oriented edge list itself (at
          // true scale it shuffles instead)
          val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
          val attr = sym
            .join(broadcast(deg.withColumnRenamed("u", "su").withColumnRenamed("deg", "sdeg")),
              col("u") === col("su"))
            .join(broadcast(deg.withColumnRenamed("u", "du").withColumnRenamed("deg", "ddeg")),
              col("v") === col("du"))
          val oriented = attr
            .filter(col("sdeg") < col("ddeg") ||
              (col("sdeg") === col("ddeg") && col("u") < col("v")))
            .select(col("u"), col("v"))
          val paths = oriented.as("e1")
            .join(broadcast(oriented.as("e2")), col("e1.v") === col("e2.u"))
            .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
          val tris = paths.join(broadcast(oriented.as("e3")),
            col("x") === col("e3.u") && col("z") === col("e3.v"))
          val nNodes = sym.agg(countDistinct("u").as("n_nodes"))
          val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
          val nTris = tris.agg(count(lit(1)).as("n_triangles"))
          nNodes.crossJoin(nEdges).crossJoin(nTris)
        }
      },
      oracle = Some(s"""
        WITH ${lshPairCtes(0.5)}
        SELECT (SELECT CAST(count(DISTINCT x) AS BIGINT)
                FROM (SELECT a AS x FROM pairs UNION SELECT b FROM pairs)) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT)
                FROM pairs p1
                JOIN pairs p2 ON p2.a = p1.b
                JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b) AS n_triangles"""),
      bench = true),

    // ---- integer PageRank (2 unrolled iterations, damping 0.85) on
    // the LSH near-dup graph: the Pregel-as-join formulation — edges
    // JOIN scores, shuffle on dst, per-node combine — with all scores
    // quantized to integer micros so floor division makes both
    // engines bit-identical (no float summation order anywhere).
    // Real deployments iterate to convergence with localCheckpoint
    // lineage truncation (the Closure pattern); two rounds pin the
    // operator shape and the per-round cost --------------------------
    "q121_pagerank" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        // one-pass per-doc signatures: no shingle explode, no
        // corpus-wide groupBy shuffle (bit-equal to the exploded form)
        val sigs = MinHashLsh.signaturesFromTokens(docs, "doc_id", "t",
          3, MinhashK)
        val pairs = MinHashLsh
          .candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
          .select(col("a"), col("b"))
        val sym = pairs.select(col("a").as("u"), col("b").as("v"))
          .union(pairs.select(col("b").as("u"), col("a").as("v")))
          .persist() // edge frame drives deg + two join rounds
        val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
        var score = deg.select(col("u"), lit(1000000L).as("score"))
        for (_ <- 1 to 2) {
          val contrib = sym.join(score, "u").join(deg, "u")
            .select(col("v"), expr("score div d").as("c"))
            .groupBy("v").agg(sum("c").as("m"))
            .withColumnRenamed("v", "u")
          score = deg.select("u").join(contrib, Seq("u"), "left")
            .select(col("u"),
              (lit(150000L) + expr("(coalesce(m, 0) * 850) div 1000")).as("score"))
        }
        score.select(col("u").as("doc_id"), col("score")).orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH ${lshPairCtes(0.5)},
        sym AS (SELECT a AS u, b AS v FROM pairs
                UNION ALL SELECT b, a FROM pairs),
        deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
        s0 AS (SELECT u, CAST(1000000 AS BIGINT) AS score FROM deg),
        c1 AS (SELECT e.v AS u, sum(s.score // g.d) AS m
               FROM sym e JOIN s0 s ON s.u = e.u JOIN deg g ON g.u = e.u
               GROUP BY e.v),
        s1 AS (SELECT deg.u,
                      CAST(150000 + (coalesce(c1.m, 0) * 850) // 1000 AS BIGINT) AS score
               FROM deg LEFT JOIN c1 ON c1.u = deg.u),
        c2 AS (SELECT e.v AS u, sum(s.score // g.d) AS m
               FROM sym e JOIN s1 s ON s.u = e.u JOIN deg g ON g.u = e.u
               GROUP BY e.v),
        s2 AS (SELECT deg.u,
                      CAST(150000 + (coalesce(c2.m, 0) * 850) // 1000 AS BIGINT) AS score
               FROM deg LEFT JOIN c2 ON c2.u = deg.u)
        SELECT u AS doc_id, score FROM s2 ORDER BY doc_id"""),
      bench = true),

    // ---- dedup-health histogram: near-dup cluster sizes → how many
    // clusters of each size (the shape a curation run reports before
    // deciding collapse policy). Same candidate graph as q61; the
    // histogram is two tiny aggregations on top of the component
    // labels, so the scale path is exactly the Components operator's
    // (pointer-doubling, O(log diameter) rounds) -------------------
    "q140_cluster_histogram" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", graft.functions.TextFns.tokens(col("text")))
        // one-pass per-doc signatures: no shingle explode, no
        // corpus-wide groupBy shuffle (bit-equal to the exploded form)
        val sigs = graft.functions.MinHashLsh
          .signaturesFromTokens(docs, "doc_id", "t", 3, MinhashK)
        val pairs = graft.functions.MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
        Components.connectedComponents(pairs, "a", "b")
          .groupBy("component").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
          .orderBy("cluster_size")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${lshPairCtes(0.5)},
        sym AS (SELECT a AS x, b AS y FROM pairs
                UNION SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT x, x FROM sym
          UNION
          SELECT s.x, r.lab FROM sym s JOIN reach r ON r.node = s.y),
        comp AS (SELECT node, min(lab) AS component
                 FROM reach GROUP BY node),
        sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
                  FROM comp GROUP BY 1)
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY 1 ORDER BY 1""")),

    // ---- cross-source near-dup matrix: LSH candidate pairs (est ≥
    // 0.5, the q61 graph) mapped to their sources, counted per
    // unordered source pair — the "which sources copy from each
    // other" audit that decides dedup scope (within-source vs
    // global). The source lookup is a doc→source projection joined on
    // the pair endpoints (doc-keyed hash joins); pair volume is
    // LSH-bounded, never quadratic --------------------------------
    "q144_cross_source_dups" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        // one-pass per-doc signatures: no shingle explode, no
        // corpus-wide groupBy shuffle (bit-equal to the exploded form)
        val sigs = MinHashLsh.signaturesFromTokens(docs, "doc_id", "t",
          3, MinhashK)
        val pairs = MinHashLsh.candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
        val src = Tables.load(s, d, "documents").select("doc_id", "source")
        pairs
          .join(src.toDF("a", "sa"), "a")
          .join(src.toDF("b", "sb"), "b")
          .select(least(col("sa"), col("sb")).as("s1"),
            greatest(col("sa"), col("sb")).as("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
          .orderBy("s1", "s2")
      },
      oracle = Some(s"""
        WITH ${lshPairCtes(0.5)},
        src AS (SELECT doc_id, source FROM documents)
        SELECT least(x.source, y.source) AS s1,
               greatest(x.source, y.source) AS s2,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs p
          JOIN src x ON x.doc_id = p.a
          JOIN src y ON y.doc_id = p.b
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- edit-distance verification of near-dup candidates: the
    // post-LSH "prove it" stage — exact Levenshtein over the LSH
    // candidate pairs only (never all-pairs; the candidate set is
    // LSH-bounded, and per-pair O(len²) DP is the verification cost
    // you signed up for, paid on ~candidates not ~corpus²). Integer
    // distances; both engines implement classic edit distance -------
    "q154_editdist_verify" -> Q(
      impl = (s, d) => {
        val docs = graft.Tables.docsParallel(s, d)
          .withColumn("t", graft.functions.TextFns.tokens(col("text")))
        val sigs = graft.functions.MinHashLsh
          .signaturesFromTokens(docs, "doc_id", "t", 3, 12)
        val pairs = graft.functions.MinHashLsh.candidatePairs(sigs, "doc_id", 12, 4)
          .filter(col("est") >= 0.5)
        val txt = Tables.load(s, d, "documents").select("doc_id", "text")
        pairs
          .join(txt.toDF("a", "ta"), "a")
          .join(txt.toDF("b", "tb"), "b")
          .select(col("a"), col("b"),
            levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
            greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"))
          .orderBy("a", "b")
      },
      oracle = Some(s"""
        WITH ${lshPairCtes(0.5)}
        SELECT p.a, p.b,
               CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist,
               CAST(greatest(length(x.text), length(y.text)) AS BIGINT) AS max_len
        FROM pairs p
          JOIN documents x ON x.doc_id = p.a
          JOIN documents y ON y.doc_id = p.b
        ORDER BY p.a, p.b"""),
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
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
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

    // ---- modality-disagreement audit: the text near-dup pair set
    // (banded MinHash, est ≥ 0.5) full-outer-joined against the
    // embedding near-dup pair set (banded hyperplane LSH + exact
    // quantized cosine ≥ 0.4, the q53 construction) and classed as
    // both / text_only / embed_only — the QA op that catches broken
    // or drifted embeddings: verbatim copies whose vectors don't
    // agree (or vector twins with unrelated text) surface as
    // off-diagonal mass. Outputs are pure integer counts, so the
    // cross-engine hash is exact by construction ---------------------
    "q169_modality_audit" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val docs = Tables.docsParallel(s, d)
          .withColumn("t", TextFns.tokens(col("text")))
        val sigs = MinHashLsh.signaturesFromTokens(
          docs, "doc_id", "t", 3, MinhashK)
        val text = MinHashLsh
          .candidatePairs(sigs, "doc_id", MinhashK, Bands)
          .filter(col("est") >= 0.5)
          .select(col("a"), col("b"), lit(1).as("tm"))
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
        val epairs = graft.operators.EmbedNearDup.bandedPairs(emb, "vec_id",
            bands = 4, planesPerBand = 4, dim = 64, minCos = 0.4)
          .select(col("a"), col("b"), lit(1).as("em"))
        // classed is PAIR-sized (bounded candidate sets from both
        // banded joins) but its lineage is the full text-LSH + embed-
        // LSH chains — and BOTH aggregation branches below consume it.
        // Un-persisted, the whole two-modality pipeline appeared twice
        // in the plan (r21 plan audit: duplicate FullOuter subtrees at
        // ops 65/99) and executed twice per run. Leased persist: the
        // harness drain (or a caller scope) releases it.
        val classed = text.join(epairs, Seq("a", "b"), "full_outer")
          .withColumn("class",
            when(col("tm").isNotNull && col("em").isNotNull, "both")
              .when(col("tm").isNotNull, "text_only")
              .otherwise("embed_only"))
          .persist()
        graft.functions.PersistLeases.register(
          () => { classed.unpersist(blocking = false); () })
        val nDocs = classed
          .select(col("class"), explode(array(col("a"), col("b"))).as("doc"))
          .groupBy("class").agg(count_distinct(col("doc")).as("n_docs"))
        classed.groupBy("class").agg(count(lit(1)).as("n_pairs"))
          .join(nDocs, "class")
          .orderBy("class")
      },
      oracle = Some {
        val nPlanes = Bands * PlanesPerBand // the q53 geometry
        val pw = powerRows(PlanesPerBand)
        s"""
        WITH ${lshPairCtes(0.5)},
        f AS (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS nsq
                  FROM qv GROUP BY vec_id),
        ew(j, i, wt) AS (VALUES ${weightRows(nPlanes)}),
        epw(m, pv) AS (VALUES $pw),
        eproj AS (
          SELECT qv.vec_id, ew.j, CAST(sum(qv.e * ew.wt) AS BIGINT) AS p
          FROM qv JOIN ew ON qv.i = ew.i GROUP BY 1, 2),
        ebk AS (
          SELECT vec_id, j // 4 AS band,
                 CAST(sum(CASE WHEN p >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM eproj JOIN epw ON epw.m = j % 4
          GROUP BY 1, 2),
        ecand AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM ebk x JOIN ebk y
            ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
        edots AS (
          SELECT p.a, p.b, CAST(sum(xa.e * xb.e) AS BIGINT) AS dot
          FROM ecand p
            JOIN qv xa ON xa.vec_id = p.a
            JOIN qv xb ON xb.vec_id = p.b AND xb.i = xa.i
          GROUP BY 1, 2),
        epairs AS (
          SELECT a, b FROM edots
            JOIN norms na ON na.vec_id = a
            JOIN norms nb ON nb.vec_id = b
          WHERE round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6) >= 0.4),
        classed AS (
          SELECT coalesce(p.a, e.a) AS a, coalesce(p.b, e.b) AS b,
                 CASE WHEN p.a IS NOT NULL AND e.a IS NOT NULL THEN 'both'
                      WHEN p.a IS NOT NULL THEN 'text_only'
                      ELSE 'embed_only' END AS class
          FROM pairs p FULL JOIN epairs e ON p.a = e.a AND p.b = e.b),
        nd AS (
          SELECT class, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
          FROM (SELECT class, unnest([a, b]) AS d FROM classed)
          GROUP BY class)
        SELECT class, CAST(count(*) AS BIGINT) AS n_pairs, n_docs
        FROM classed JOIN nd USING (class)
        GROUP BY class, n_docs ORDER BY class"""
      }),

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

    "q184_band_calibration" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val maxPlanes = Bands * PlaneGrid.max
        // plane signs materialize ONCE per vector in a dedicated
        // projection (plane j is shared by every config covering it —
        // the grid reuses planes 0–7 four times), then every
        // (config, band) key is pure bit assembly — no per-config
        // corpus re-scan AND no per-config re-projection
        val signed = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .select((0 until maxPlanes).map(j =>
            VecFns.planeSign(col("vq"), j, EmbDim).as(s"__sg$j")): _*)
        val keyed = signed.select(explode(array(
          (for { p <- PlaneGrid; b <- 0 until Bands } yield
            struct(lit(p).as("p"), lit(b).as("band"),
              VecFns.lshBandKeyFromSigns(j => col(s"__sg$j"), b, p)
                .as("key"))): _*))
          .as("bk"))
          .select(col("bk.p"), col("bk.band"), col("bk.key"))
        val occ = keyed.groupBy("p", "band", "key")
          .agg(count(lit(1)).as("m"))
        val stats = occ.groupBy("p").agg(
          count(lit(1)).as("n_buckets"),
          max(col("m")).as("max_occ"),
          sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"))
        val n = Tables.embeddingsParallel(s, d)
          .agg(count(lit(1)).as("n_vec"))
        // selection via a window over the stats frame: it has exactly
        // |PlaneGrid| rows (a constant, not data-sized), so the
        // single-partition window is bounded and the corpus
        // aggregation above runs ONCE — a second aggregate + re-join
        // would traverse the whole corpus pass again
        val w = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        stats.crossJoin(broadcast(n))
          .withColumn("p_fit",
            min(when(col("cand_pairs") <= col("n_vec") * PairsPerVecBudget,
              col("p"))).over(w))
          .withColumn("p_max", max(col("p")).over(w))
          .select(col("p").cast("long").as("planes_per_band"),
            col("n_buckets"), col("max_occ"), col("cand_pairs"),
            (col("p") === coalesce(col("p_fit"), col("p_max")))
              .cast("long").as("selected"))
          .orderBy("planes_per_band")
      },
      oracle = Some {
        val maxPlanes = Bands * PlaneGrid.max
        val perConfig = PlaneGrid.map { p =>
          val pw = powerRows(p)
          s"""
        bk$p AS (
          SELECT vec_id, j // $p AS band,
                 CAST(sum(CASE WHEN pr >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN (VALUES $pw) pw$p(m, pv) ON pw$p.m = j % $p
          WHERE j < ${Bands * p}
          GROUP BY 1, 2),
        occ$p AS (
          SELECT band, key, count(*) AS m FROM bk$p GROUP BY 1, 2),
        stat$p AS (
          SELECT CAST($p AS BIGINT) AS planes_per_band,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(max(m) AS BIGINT) AS max_occ,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs
          FROM occ$p)"""
        }.mkString(",")
        val unioned = PlaneGrid.map(p => s"SELECT * FROM stat$p")
          .mkString(" UNION ALL ")
        s"""
        WITH f AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        w(j, i, wt) AS (VALUES ${weightRows(maxPlanes)}),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS pr
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2),$perConfig,
        allstats AS ($unioned),
        sel AS (
          SELECT min(CASE WHEN cand_pairs <=
                       $PairsPerVecBudget * (SELECT count(*) FROM embeddings)
                     THEN planes_per_band END) AS p_fit,
                 max(planes_per_band) AS p_max
          FROM allstats)
        SELECT planes_per_band, n_buckets, max_occ, cand_pairs,
               CAST(planes_per_band = coalesce(p_fit, p_max) AS BIGINT) AS selected
        FROM allstats CROSS JOIN sel
        ORDER BY planes_per_band"""
      },
      bench = true),

    "q185_minhash_calibration" -> Q(
      impl = (s, d) => {
        import s.implicits._
        val toks = Tables.docsParallel(s, d)
          .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
        // one zero-shuffle signature pass; the grid sweep below
        // re-reads the cached per-doc frame, never the corpus
        val sigs = MinHashLsh.signaturesFromTokens(
          toks, "doc_id", "t", 3, MinhashK).persist()
        // the whole grid's (bands, band, key) rows come from ONE
        // explode pass over the signatures (BandedLsh.occupancy — the
        // same operator the q186/q190 calibration runs) instead of a
        // per-config bandKeys + unionByName that scanned the persisted
        // signature frame |BandGrid| times. Identical rows, identical
        // md5 count (Σ_b b keys per signature row).
        val occ = graft.functions.BandedLsh.occupancy(
            MinHashLsh.family(sigs, "doc_id", MinhashK), BandGrid)
          .withColumnRenamed("cfg", "bands")
        val stats = occ.groupBy("bands").agg(
            count(lit(1)).as("n_buckets"),
            max(col("m")).as("max_occ"),
            sum(expr("(m * (m - 1)) div 2")).as("cand_pairs"),
            sum(col("m")).as("tot"))
          .withColumn("n_docs", expr("tot div bands"))
        val curve = BandGrid
          .map(b => (b, (MinhashK / b).toLong, j50(b)))
          .toDF("bands", "r", "j50")
        val w = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        stats.join(broadcast(curve), "bands")
          .withColumn("b_fit",
            max(when(col("cand_pairs") <= col("n_docs") * PairsPerDocBudget,
              col("bands"))).over(w))
          .withColumn("b_min", min(col("bands")).over(w))
          .select(col("bands").cast("long"), col("r"), col("j50"),
            col("n_buckets"), col("max_occ"), col("cand_pairs"),
            (col("bands") === coalesce(col("b_fit"), col("b_min")))
              .cast("long").as("selected"))
          .orderBy("bands")
      },
      oracle = Some {
        val perConfig = BandGrid.map { b =>
          val r = MinhashK / b
          val bandRows = (0 until b).map { bi =>
            val key = (bi * r until (bi + 1) * r)
              .map(i => s"s$i").mkString(" || '|' || ")
            s"SELECT doc_id, $bi AS band, ${MinHashLsh.bandKeySql(key)} AS key FROM sig"
          }.mkString("\n UNION ALL\n ")
          s"""
        band$b AS ($bandRows),
        occ$b AS (
          SELECT band, key, count(*) AS m FROM band$b GROUP BY 1, 2),
        stat$b AS (
          SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS r,
                 CAST(${j50(b)} AS DOUBLE) AS j50,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(max(m) AS BIGINT) AS max_occ,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $b AS BIGINT) AS n_docs
          FROM occ$b)"""
        }.mkString(",")
        val unioned = BandGrid.map(b => s"SELECT * FROM stat$b")
          .mkString(" UNION ALL ")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        sel AS (
          SELECT max(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                     THEN bands END) AS b_fit,
                 min(bands) AS b_min
          FROM allstats)
        SELECT bands, r, j50, n_buckets, max_occ, cand_pairs,
               CAST(bands = coalesce(b_fit, b_min) AS BIGINT) AS selected
        FROM allstats CROSS JOIN sel
        ORDER BY bands"""
      },
      bench = true),

    "q186_calibrated_neardup" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .transform(Curation.withTokens())
        val (bands, kept) = Curation.calibratedNearDup(
          PairsPerDocBudget, Threshold, MinhashK, BandGrid)(docs)
        kept.groupBy("source")
          .agg(count(lit(1)).as("n_kept"))
          .withColumn("bands", lit(bands.toLong))
          .select(col("source"), col("bands"), col("n_kept"))
          .orderBy("source")
      },
      oracle = Some {
        val m = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        val perConfig = BandGrid.map { b =>
          val r = MinhashK / b
          val bandRows = (0 until b).map { bi =>
            val key = (bi * r until (bi + 1) * r)
              .map(i => s"s$i").mkString(" || '|' || ")
            s"SELECT doc_id, $bi AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
              (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
          }.mkString("\n UNION ALL\n ")
          s"""
        band$b AS ($bandRows),
        occ$b AS (
          SELECT band, key, count(*) AS m FROM band$b GROUP BY 1, 2),
        stat$b AS (
          SELECT CAST($b AS BIGINT) AS bands,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $b AS BIGINT) AS n_docs
          FROM occ$b),
        drop$b AS (
          SELECT DISTINCT r.doc_id
          FROM band$b l JOIN band$b r
            ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
          WHERE round(($m) / ${MinhashK.toDouble}, 4) >= $Threshold)"""
        }.mkString(",")
        val unioned = BandGrid.map(b => s"SELECT * FROM stat$b")
          .mkString(" UNION ALL ")
        val droppedUnion = BandGrid.map(b =>
          s"SELECT doc_id FROM drop$b WHERE (SELECT bs FROM bsel) = $b")
          .mkString(" UNION ALL ")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        bsel AS (
          SELECT coalesce(
                   max(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                       THEN bands END),
                   min(bands)) AS bs
          FROM allstats),
        dropped AS ($droppedUnion)
        SELECT d.source, (SELECT bs FROM bsel) AS bands,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
        WHERE dr.doc_id IS NULL
        GROUP BY d.source ORDER BY d.source"""
      },
      bench = true),

    // ---- q187: the embedding-family counterpart — one projection
    // sweeps the q184 planes-per-band grid, the narrowest config
    // fitting the per-vector pair budget is selected, and the banded
    // hyperplane join + exact quantized-cosine verify executes with
    // it. The oracle replays sweep, selection rule, and the SELECTED
    // config's band join + verification as chained CTEs ---------------
    "q187_calibrated_embed_neardup" -> Q(
      impl = (s, d) => {
        graft.functions.expressions.GraftFunctions.register(s)
        val all = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), VecFns.quantize(col("embedding")).as("vq"))
          .withColumn("nsq", VecFns.dotQFast(col("vq"), col("vq")))
          .persist()
        // the grid CEILING scales with the corpus (planeGridFor:
        // p ~ log₂(bands·N / 2·budget)) so a fitting selection keeps
        // existing across decades — at the harness scales (≤2k
        // vectors) the derived grid IS the static 2/4/6/8 grid the
        // oracle replays, so results are identical where the oracle
        // runs; only decade corpora extend it (ScaleCalibrationSpec
        // pins the 200k-vector row). The count is a one-column job
        // over the persisted frame the sweep reads next.
        val grid = graft.operators.EmbedNearDup.planeGridFor(
          all.count(), Bands, PairsPerVecBudget)
        val (p, pairs) = graft.operators.EmbedNearDup.calibratedPairs(
          all, "vec_id", Bands, grid, EmbDim, MinCos,
          PairsPerVecBudget)
        // released before the pairs run: with no hot cell the band
        // join reads the quantized vectors again and, uncached,
        // recomputes them from the embeddings (BandedLsh.execute's
        // caller-persisted-input precondition is not met here)
        all.unpersist(blocking = false)
        pairs
          .withColumn("planes", lit(p.toLong))
          .select(col("a"), col("b"), col("cos_r"), col("planes"))
          .orderBy("a", "b")
      },
      oracle = Some {
        val maxPlanes = Bands * PlaneGrid.max
        val perConfig = PlaneGrid.map { p =>
          val pw = powerRows(p)
          s"""
        bk$p AS (
          SELECT vec_id, j // $p AS band,
                 CAST(sum(CASE WHEN pr >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN (VALUES $pw) pw$p(m, pv) ON pw$p.m = j % $p
          WHERE j < ${Bands * p}
          GROUP BY 1, 2),
        occ$p AS (
          SELECT band, key, count(*) AS m FROM bk$p GROUP BY 1, 2),
        stat$p AS (
          SELECT CAST($p AS BIGINT) AS planes,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $Bands AS BIGINT) AS n_vec
          FROM occ$p),
        pairs$p AS (
          SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
          FROM bk$p x JOIN bk$p y
            ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id)"""
        }.mkString(",")
        val unioned = PlaneGrid.map(p => s"SELECT * FROM stat$p")
          .mkString(" UNION ALL ")
        val selUnion = PlaneGrid.map(p =>
          s"SELECT a, b FROM pairs$p WHERE (SELECT ps FROM psel) = $p")
          .mkString(" UNION ALL ")
        s"""
        WITH f AS (SELECT vec_id, unnest(embedding) AS x,
                          generate_subscripts(embedding, 1) AS i
                   FROM embeddings),
        qv AS (SELECT vec_id, i,
                      CAST(round(CAST(x AS DOUBLE) * ${VecFns.Scale}) AS BIGINT) AS e
               FROM f),
        norms AS (SELECT vec_id, CAST(sum(e * e) AS BIGINT) AS nsq
                  FROM qv GROUP BY vec_id),
        w(j, i, wt) AS (VALUES ${weightRows(maxPlanes)}),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS pr
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2),$perConfig,
        allstats AS ($unioned),
        psel AS (
          SELECT coalesce(
                   min(CASE WHEN cand_pairs <= $PairsPerVecBudget * n_vec
                       THEN planes END),
                   max(planes)) AS ps
          FROM allstats),
        selpairs AS ($selUnion),
        dots AS (
          SELECT p.a, p.b, CAST(sum(xa.e * xb.e) AS BIGINT) AS dot
          FROM selpairs p
            JOIN qv xa ON xa.vec_id = p.a
            JOIN qv xb ON xb.vec_id = p.b AND xb.i = xa.i
          GROUP BY 1, 2),
        cosv AS (
          SELECT a, b, round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE))), 6)
              AS cos_r
          FROM dots
            JOIN norms na ON na.vec_id = a
            JOIN norms nb ON nb.vec_id = b)
        SELECT a, b, cos_r, (SELECT ps FROM psel) AS planes
        FROM cosv WHERE cos_r >= $MinCos ORDER BY a, b"""
      },
      bench = true),

    // ---- q189: the SimHash-family calibration, completing the
    // calibrate-then-execute loop across all three banded-LSH
    // operators (q186 MinHash, q187 hyperplane, q189 SimHash). The
    // 16-bit fingerprint computes once; the band-width sweep is pure
    // bit arithmetic over it (key = (sh >> band·w) & (2^w − 1)), so
    // every grid config's exact occupancy and candidate load come
    // from one groupBy over the fingerprint frame. Selection picks
    // the narrowest width whose candidate load fits the per-doc
    // budget (the highest-recall fitting config; widest as fallback),
    // then the hamming-verified band join (q160's semantics) runs at
    // the selected width only — through the hot-bucket-capped
    // `BandedLsh` band join, the same execution bound the MinHash
    // and hyperplane families carry. The guard is what makes the
    // fallback safe to EXECUTE on a fingerprint-concentrated corpus:
    // the sweep prices a quadratic config out of selection, and the
    // chain-link cap bounds whatever config does run to O(m) per
    // bucket (the unguarded fallback join filled 80 GB of shuffle
    // scratch at 500 k docs before this). As everywhere the guard is
    // used, the oracle replays the exact sub-cap join — gate-scale
    // buckets stay under DefaultMaxBucket (LshGuardSpec pins the
    // guard's own semantics) ------------------------------------------
    "q189_calibrated_simhash" -> Q(
      impl = (s, d) => {
        // one-pass hash-dedup fingerprints (round 19 retired the
        // string-dedup mode): the per-doc distinct-hash set and the
        // 16-bit vote run locally, bit-equal to the oracle's DISTINCT
        // (doc, hex-prefix) construction — a bijection of the hash
        // (SimHashOnePassSpec pins it)
        val sigs = SimHash.fingerprintsFromTokens(
          Tables.docsParallel(s, d)
            .withColumn("t", TextFns.tokens(col("text"))),
          "doc_id", "t", 1)
          .persist() // sweep + selected-config join read it
        // fused calibrate-then-execute: the sweep's persisted grid
        // occupancy drives the selection AND the hot-bucket split — no
        // separate occupancy probe job over the banded frame
        val (selected, pairs) = SimHash.calibratedPairs(sigs, "doc_id",
          "sh", WidthGrid, PairsPerDocBudget)
        // released before the pairs run: with no hot bucket the band
        // join reads the fingerprints again and, uncached, recomputes
        // them from the documents (BandedLsh.execute's
        // caller-persisted-input precondition is not met here)
        sigs.unpersist(blocking = false)
        pairs
          .withColumn("hamming", SimHash.hamming(col("sa"), col("sb")))
          .filter(col("hamming") <= 1)
          .select(col("a"), col("b"),
            col("hamming").cast("long").as("hamming"),
            lit(selected.toLong).as("width"))
          .orderBy("a", "b")
      },
      oracle = Some {
        val perConfig = WidthGrid.map { w =>
          val bands = SimHash.bits / w
          s"""
        bw$w AS (SELECT doc_id, sh, unnest(range(0, $bands)) AS band
                 FROM sig),
        bk$w AS (SELECT doc_id, sh, band,
                        (sh >> (band * $w)) & ${(1L << w) - 1} AS key
                 FROM bw$w),
        occ$w AS (
          SELECT band, key, count(*) AS m FROM bk$w GROUP BY 1, 2),
        stat$w AS (
          SELECT CAST($w AS BIGINT) AS w,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $bands AS BIGINT) AS n_docs
          FROM occ$w),
        pairs$w AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 x.sh AS sa, y.sh AS sb
          FROM bk$w x JOIN bk$w y
            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""
        }.mkString(",")
        val unioned = WidthGrid.map(w => s"SELECT * FROM stat$w")
          .mkString(" UNION ALL ")
        val selUnion = WidthGrid.map(w =>
          s"SELECT a, b, sa, sb FROM pairs$w WHERE (SELECT ws FROM wsel) = $w")
          .mkString(" UNION ALL ")
        s"""
        WITH tk AS (SELECT doc_id,
                           unnest(string_split(text, ' ')) AS tok
                    FROM documents),
        hx AS (SELECT DISTINCT doc_id, substr(md5(tok), 1, 4) AS hx FROM tk),
        sig AS (SELECT doc_id, ${simhashSqlFromHex("hx")} AS sh
                FROM hx GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        wsel AS (
          SELECT coalesce(
                   min(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                       THEN w END),
                   max(w)) AS ws
          FROM allstats),
        selpairs AS ($selUnion)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
               (SELECT ws FROM wsel) AS width
        FROM selpairs WHERE bit_count(xor(sa, sb)) <= 1
        ORDER BY a, b"""
      },
      bench = true),

    // ---- q190: the SELF-TUNING corpus pipeline — q58's end-to-end
    // cleaning chain with the near-dup stage calibrated instead of
    // fixed, composed entirely from the public Curation stages
    // (withTokens → qualityFilter → exactDedup → calibratedNearDup).
    // The calibration sweeps the POST-filter, POST-exact-dedup corpus
    // (the set the band join will actually run on — sweeping the raw
    // corpus would price a different join), and the oracle replays the
    // whole chain: quality predicate, exact-dedup keep-set, grid
    // sweep, selection rule, and the selected config's band join ------
    "q190_selftuning_pipeline" -> Q(
      impl = (s, d) => {
        val docs = Tables.docsParallel(s, d)
          .transform(Curation.withTokens())
          .transform(Curation.qualityFilter())
          .transform(Curation.exactDedup())
        val (bands, kept) = Curation.calibratedNearDup(
          PairsPerDocBudget, Threshold, MinhashK, BandGrid)(docs)
        kept.select(col("doc_id"), lit(bands.toLong).as("bands"))
          .orderBy("doc_id")
      },
      oracle = Some {
        val m = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        val perConfig = BandGrid.map { b =>
          val r = MinhashK / b
          val bandRows = (0 until b).map { bi =>
            val key = (bi * r until (bi + 1) * r)
              .map(i => s"s$i").mkString(" || '|' || ")
            s"SELECT doc_id, $bi AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
              (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
          }.mkString("\n UNION ALL\n ")
          s"""
        band$b AS ($bandRows),
        occ$b AS (
          SELECT band, key, count(*) AS m FROM band$b GROUP BY 1, 2),
        stat$b AS (
          SELECT CAST($b AS BIGINT) AS bands,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $b AS BIGINT) AS n_docs
          FROM occ$b),
        drop$b AS (
          SELECT DISTINCT r.doc_id
          FROM band$b l JOIN band$b r
            ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
          WHERE round(($m) / ${MinhashK.toDouble}, 4) >= $Threshold)"""
        }.mkString(",")
        val unioned = BandGrid.map(b => s"SELECT * FROM stat$b")
          .mkString(" UNION ALL ")
        val droppedUnion = BandGrid.map(b =>
          s"SELECT doc_id FROM drop$b WHERE (SELECT bs FROM bsel) = $b")
          .mkString(" UNION ALL ")
        s"""
        WITH filtered AS (
          SELECT doc_id, text FROM documents
          WHERE round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                  / length(text), 4) < 0.1
            AND len(string_split(text, ' ')) >= 10
            AND (CASE WHEN len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'to')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('der', 'die', 'das', 'und', 'ist')))
                   AND len(list_filter(string_split(text, ' '),
                        x -> x IN ('the', 'a', 'of', 'and', 'to')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('le', 'la', 'les', 'et', 'est')))
                 THEN 'en'
                 WHEN len(list_filter(string_split(text, ' '),
                        x -> x IN ('der', 'die', 'das', 'und', 'ist')))
                      >= len(list_filter(string_split(text, ' '),
                        x -> x IN ('le', 'la', 'les', 'et', 'est')))
                 THEN 'de' ELSE 'fr' END) = 'en'),
        kept AS (
          SELECT doc_id, text FROM filtered
          WHERE doc_id IN (SELECT min(doc_id) FROM filtered GROUP BY md5(text))),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),$hashCte,
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        bsel AS (
          SELECT coalesce(
                   max(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                       THEN bands END),
                   min(bands)) AS bs
          FROM allstats),
        dropped AS ($droppedUnion)
        SELECT k.doc_id, (SELECT bs FROM bsel) AS bands
        FROM kept k LEFT JOIN dropped dr ON dr.doc_id = k.doc_id
        WHERE dr.doc_id IS NULL
        ORDER BY k.doc_id"""
      },
      bench = true),

    "q191_calibrated_simhash64" -> Q(
      impl = (s, d) => {
        // one-pass fingerprints (round 18): the per-doc shingle dedup
        // and the 64-bit majority vote run locally in mapPartitions
        // (SimHashFamily.fingerprintsFromTokens) — zero shuffle until
        // the band join, where round 17's hash-keyed declarative form
        // still pushed ~1.45 B shingle rows through two corpus-wide
        // shuffles at 50 M docs. Bit-equal to that form (and so to
        // the oracle) because both dedup on the 64-bit md5-prefix
        // hash; strictly, two distinct shingles colliding in the
        // 64-bit prefix collapse to one vote on BOTH sides (~2^-64
        // per pair — the oracle's hex-prefix dedup mirrors it
        // exactly). Parity pinned by SimHashOnePassSpec.
        val sigs = SimHash64.fingerprintsFromTokens(
          Tables.docsParallel(s, d)
            .withColumn("t", TextFns.tokens(col("text"))),
          "doc_id", "t", 3)
          .persist() // sweep + selected-config join read it
        val (selected, pairs) = SimHash64.calibratedPairs(sigs, "doc_id",
          "sh", WidthGrid64, PairsPerDocBudget)
        // released before the pairs run: with no hot bucket the band
        // join reads the fingerprints again and, uncached, recomputes
        // them from the documents (BandedLsh.execute's
        // caller-persisted-input precondition is not met here)
        sigs.unpersist(blocking = false)
        pairs
          .withColumn("hamming", SimHash64.hamming(col("sa"), col("sb")))
          .filter(col("hamming") <= HammingMax)
          .select(col("a"), col("b"),
            col("hamming").cast("long").as("hamming"),
            lit(selected.toLong).as("width"))
          .orderBy("a", "b")
      },
      oracle = Some {
        val perConfig = WidthGrid64.map { w =>
          val bands = SimHash64.bits / w
          s"""
        bw$w AS (SELECT doc_id, sh, unnest(range(0, $bands)) AS band
                 FROM sig),
        bk$w AS (SELECT doc_id, sh, band,
                        (sh >> (band * $w)) & ${(1L << w) - 1} AS key
                 FROM bw$w),
        occ$w AS (
          SELECT band, key, count(*) AS m FROM bk$w GROUP BY 1, 2),
        stat$w AS (
          SELECT CAST($w AS BIGINT) AS w,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $bands AS BIGINT) AS n_docs
          FROM occ$w),
        pairs$w AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                 x.sh AS sa, y.sh AS sb
          FROM bk$w x JOIN bk$w y
            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""
        }.mkString(",")
        val unioned = WidthGrid64.map(w => s"SELECT * FROM stat$w")
          .mkString(" UNION ALL ")
        val selUnion = WidthGrid64.map(w =>
          s"SELECT a, b, sa, sb FROM pairs$w WHERE (SELECT ws FROM wsel) = $w")
          .mkString(" UNION ALL ")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        hx AS (SELECT DISTINCT doc_id,
                      substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                             1, ${SimHash64.bits / 4}) AS hx
               FROM idx WHERE i + 2 <= len(t)),
        sig AS (SELECT doc_id, ${simhash64SqlFromHex("hx")} AS sh
                FROM hx GROUP BY doc_id),$perConfig,
        allstats AS ($unioned),
        wsel AS (
          SELECT coalesce(
                   min(CASE WHEN cand_pairs <= $PairsPerDocBudget * n_docs
                       THEN w END),
                   max(w)) AS ws
          FROM allstats),
        selpairs AS ($selUnion)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
               (SELECT ws FROM wsel) AS width
        FROM selpairs WHERE bit_count(xor(sa, sb)) <= $HammingMax
        ORDER BY a, b"""
      },
      bench = true)
  )
}
