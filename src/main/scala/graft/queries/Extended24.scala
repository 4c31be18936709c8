package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{SimHash64, TextFns}

/** Round-17: the 64-bit SimHash family (VERDICT r16 #1).
  *
  * The 16-bit fingerprint's calibration contract is provably
  * unsatisfiable from ~5 M docs up (the keyspace holds 65 k distinct
  * fingerprints, so bucket occupancy grows linearly in N and
  * candidate pairs quadratically — the sf100 sweep priced out every
  * width and the guarded fallback became the permanent path).
  * [[graft.functions.SimHash64]] is the standard fix (Charikar's
  * construction at the 64-bit width of Manku–Jain–Sadikov's web-scale
  * dedup): 16 md5 nibbles, widths 4/8/16, keyspace headroom for
  * decades.
  *
  * q191 is the q189 calibrate-then-execute shape on the 64-bit
  * family, over 3-token SHINGLES rather than q189's unigram tokens:
  * the harness/ScaleGen vocabulary is ~31 words, so every document
  * holds most of the unigram universe and the majority-vote
  * fingerprint degenerates to a near-global codeword (measured at
  * 50 k docs: bit 0 set in 0% of docs, bit 32 in 97% — fingerprints
  * concentrate and every width prices out REGARDLESS of fingerprint
  * bits). Trigram shingles span a ~31³ feature space (~58 mostly
  * doc-specific features per doc), which is the same discriminative
  * feature set the MinHash family shingles on — SimHash's feature
  * choice matters as much as its width, and the two families now
  * share it. One fingerprint pass, the width sweep as pure bit
  * arithmetic over it, narrowest fitting width selected (widest as
  * fallback), then the hamming-verified band join at the selected
  * width through the hot-bucket-capped `BandedLsh` band join. The
  * hamming threshold is 3 — and the banded index is structurally
  * COMPLETE for it at widths up to 16: 64/w ≥ 4 bands means a pair
  * within hamming 3 cannot spread its differing bits across all
  * bands (pigeonhole), so it collides somewhere. The w=32 rung (2
  * bands, complete only for hamming ≤ 1) is the explicit recall trade
  * the selection makes when a corpus outgrows the 2^16-per-band
  * keyspace (~650 k docs at a 20-pairs/doc budget); wherever ≤16
  * fits, the selection keeps full hamming-3 completeness — pinned by
  * the sf1 recall audit in ScaleCalibrationSpec. The oracle replays
  * sweep, selection rule, and the selected width's band join as
  * chained CTEs, exactly as q189's does.
  *
  * GUARDED/UNGUARDED ASYMMETRY (q189's contract): the implementation
  * chain-links buckets beyond DefaultMaxBucket; the oracle's band
  * join is unguarded. Parity rests on the harness corpus having no
  * degenerate bucket at the SELECTED width (LshGuardSpec pins the
  * guard's own semantics; the 64-bit keyspace makes over-cap buckets
  * strictly rarer than the 16-bit family's).
  */
object Extended24 {

  /** Shared with q189 (Extended23) — the family budget. */
  private val PairsPerDocBudget = 20L

  /** 64-bit near-dup radius (Manku–Jain–Sadikov use 3 at 64 bits). */
  private val HammingMax = 3

  private val WidthGrid = SimHash64.DefaultWidthGrid

  /** DuckDB expression reproducing [[SimHash64.simhashAggFromHash]]
    * over a PRE-COMPUTED 16-hex-char hash column (the oracle's twin
    * of Spark's hash-long: hex prefix ↔ long is a bijection, so
    * deduping and aggregating on it matches the impl exactly) — the
    * Extended16.simhashSql construction at 16 nibbles, CAST back to
    * BIGINT because the `1<<63` term promotes the sum to HUGEINT
    * (the cast is what keeps the oracle's shift/xor/bit_count
    * arithmetic in 64-bit two's complement, matching Spark's long
    * exactly).
    */
  private[queries] def simhash64SqlFromHex(hex: String): String = {
    val terms = (0 until SimHash64.bits).map { b =>
      val hexPos = SimHash64.bits / 4 - b / 4
      val pw = 1 << (b % 4)
      val nib = s"(instr('0123456789abcdef', substr($hex, $hexPos, 1)) - 1)"
      s"CASE WHEN 2 * sum(($nib // $pw) % 2) > count(*) THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"CAST($terms AS BIGINT)"
  }

  val queries: Map[String, Q] = Map(
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
          "sh", WidthGrid, PairsPerDocBudget)
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
        val perConfig = WidthGrid.map { w =>
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
        val unioned = WidthGrid.map(w => s"SELECT * FROM stat$w")
          .mkString(" UNION ALL ")
        val selUnion = WidthGrid.map(w =>
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
      bench = true))
}
