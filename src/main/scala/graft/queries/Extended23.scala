package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.corpus.Curation
import graft.functions.{MinHashLsh, SimHash, TextFns, VecFns}

/** Round-14: closing the calibration loop — q184/q185 *report* the
  * LSH config fitting a candidate-pair budget; these queries
  * *consume* the selection and execute the dedup with it.
  *
  * q186 runs [[Curation.calibratedNearDup]]: one signature pass, the
  * q185 band-count sweep, then the banded near-dup filter executed
  * with the SELECTED config. The oracle replays the whole chain —
  * sweep, selection rule, and the selected config's band join — as
  * chained CTEs (the q182 trajectory-reproducibility pattern): every
  * grid config's drop-set is a CTE, and the final union keeps only
  * the config the selection rule picked, so a divergence in EITHER
  * the sweep arithmetic OR the executed band join breaks the hash.
  *
  * GUARDED/UNGUARDED ASYMMETRY (same contract as q161/q162): the
  * implementation routes pairs through `MinHashLsh.candidatePairs`
  * whose LshGuard chain-links buckets beyond DefaultMaxBucket; the
  * oracle's band join is unguarded. Parity rests on the harness
  * corpus having no degenerate bucket, pinned by LshGuardSpec.
  */
object Extended23 {

  private val MinhashK = Extended2.MinhashK

  /** Candidate band-count grid (divisors of k), as in q185. */
  private val BandGrid = Seq(2, 3, 4, 6)

  /** Accepted candidate pairs per signed document (q185's budget). */
  private val PairsPerDocBudget = 20L

  /** Near-dup drop threshold on the signature-component estimate. */
  private val Threshold = 0.5

  /** q187 (embedding family): fixed band count and per-vector budget —
    * q184's exact knobs. PlaneGrid is the ORACLE's replay grid: the
    * impl derives its grid from the vector count
    * (`EmbedNearDup.planeGridFor`), which equals this static grid at
    * every scale the oracle runs (≤2k vectors) and extends past it
    * only on decade corpora.
    */
  private val EmbBands = 4
  private val PlaneGrid = Seq(2, 4, 6, 8)
  private val PairsPerVecBudget = 20L
  private val EmbDim = 64
  private val MinCos = 0.4

  /** q189 (SimHash family): candidate bits-per-band grid — the shared
    * operator's default, so the oracle replays exactly the grid
    * `SimHash.calibratedPairs` sweeps.
    */
  private val WidthGrid = SimHash.DefaultWidthGrid

  val queries: Map[String, Q] = Map(
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
        val sigSelect = (0 until MinhashK).map(i =>
          s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
            s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
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
               FROM idx WHERE i + 2 <= len(t)),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
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
          all.count(), EmbBands, PairsPerVecBudget)
        val (p, pairs) = graft.operators.EmbedNearDup.calibratedPairs(
          all, "vec_id", EmbBands, grid, EmbDim, MinCos,
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
        val maxPlanes = EmbBands * PlaneGrid.max
        val weightRows = (for {
          j <- 0 until maxPlanes
          i <- 1 to EmbDim
        } yield s"($j,$i,${VecFns.hyperplaneWeight(j, i - 1)})")
          .mkString(",")
        val perConfig = PlaneGrid.map { p =>
          val pw = (0 until p).map(m => s"($m,${1L << m})").mkString(",")
          s"""
        bk$p AS (
          SELECT vec_id, j // $p AS band,
                 CAST(sum(CASE WHEN pr >= 0 THEN pv ELSE 0 END) AS BIGINT) AS key
          FROM proj JOIN (VALUES $pw) pw$p(m, pv) ON pw$p.m = j % $p
          WHERE j < ${EmbBands * p}
          GROUP BY 1, 2),
        occ$p AS (
          SELECT band, key, count(*) AS m FROM bk$p GROUP BY 1, 2),
        stat$p AS (
          SELECT CAST($p AS BIGINT) AS planes,
                 CAST(sum((m * (m - 1)) // 2) AS BIGINT) AS cand_pairs,
                 CAST(sum(m) // $EmbBands AS BIGINT) AS n_vec
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
        w(j, i, wt) AS (VALUES $weightRows),
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

    // ---- q188: streaming near-dup ingestion against a standing LSH
    // index — the production LLM-ingest composition of q161 (delta
    // probes a banded index) and the CorpusIngest exactly-once landing.
    // Delta docs (doc_id % 10 = 0) arrive as 3 mtime-ordered parquet
    // files → 3 micro-batches (maxFilesPerTrigger = 1); each batch
    // probes the index AS IT STOOD before the batch (capBuckets-guarded
    // side), survivors land idempotently and their band keys append, so
    // batch 2 dedups against batch 0/1's landed docs, not just the
    // original corpus. Output: every delta doc with its landed bit.
    // The oracle replays the 3 sequential batches as chained CTEs —
    // dup_b joins batch b against index ∪ landed_{<b} — so the
    // incremental index-growth semantics are hash-pinned, not just the
    // final probe ----------------------------------------------------
    "q188_stream_neardup_ingest" -> Q(
      impl = (s, d) => graft.streaming.NearDupIngest.demoRun(s, d),
      oracle = Some {
        val sigSelect = (0 until MinhashK).map(i =>
          s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
            s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
        val r = MinhashK / 4
        val bandRows = (0 until 4).map { b =>
          val key = (b * r until (b + 1) * r)
            .map(i => s"s$i").mkString(" || '|' || ")
          s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
            (0 until MinhashK).map(i => s"s$i").mkString(", ") + " FROM sig"
        }.mkString("\n UNION ALL\n ")
        val m = (0 until MinhashK)
          .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        def batchPred(side: String, b: Int) =
          s"$side.doc_id % 10 = 0 AND ($side.doc_id // 10) % 3 = $b"
        val batchCtes = (0 until 3).map { b =>
          val indexMembers = "r.doc_id % 10 <> 0" +
            (0 until b).map(pb =>
              s" OR r.doc_id IN (SELECT doc_id FROM land$pb)").mkString
          s"""
        dup$b AS (
          SELECT DISTINCT l.doc_id
          FROM band l JOIN band r
            ON l.band = r.band AND l.key = r.key
          WHERE ${batchPred("l", b)} AND ($indexMembers)
            AND round(($m) / ${MinhashK.toDouble}, 4) >= $Threshold),
        land$b AS (
          SELECT doc_id FROM documents d
          WHERE ${batchPred("d", b)}
            AND doc_id NOT IN (SELECT doc_id FROM dup$b))"""
        }.mkString(",")
        s"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        idx AS (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks),
        sh AS (SELECT DISTINCT doc_id,
                      t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx WHERE i + 2 <= len(t)),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
        sig AS (SELECT doc_id, $sigSelect FROM hh GROUP BY doc_id),
        band AS ($bandRows),$batchCtes,
        landed AS (SELECT doc_id FROM land0 UNION ALL
                   SELECT doc_id FROM land1 UNION ALL
                   SELECT doc_id FROM land2)
        SELECT d.doc_id AS delta_doc,
               CAST(l.doc_id IS NOT NULL AS BIGINT) AS landed
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN landed l ON l.doc_id = d.doc_id
        ORDER BY delta_doc"""
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
        sig AS (SELECT doc_id, ${Extended16.simhashSqlFromHex("hx")} AS sh
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
        val sigSelect = (0 until MinhashK).map(i =>
          s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
            s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
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
               FROM idx WHERE i + 2 <= len(t)),
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
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
      bench = true))
}
