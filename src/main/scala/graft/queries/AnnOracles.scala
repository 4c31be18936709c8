package graft.queries

import graft.operators.{Ivf, Pq}

/** DuckDB oracle SQL for the ANN queries (q54 IVF, q166 PQ, q167
  * IVF-PQ).
  *
  * The trained models are data-derived but fully deterministic (seeded
  * hash-ordered sample + fixed-iteration Lloyd's — see [[Ivf.train]]),
  * so the oracle generator re-trains the IDENTICAL model at Verify
  * time and bakes it into the SQL as literal `VALUES` rows. Everything
  * downstream of the model is exact integer arithmetic (quantized
  * vectors, integer distances/dots/LUTs) plus the one shared
  * double-cosine formula, so the cross-engine hash is exact:
  *
  *  - cell/code assignment: argmin_j (|c_j|² − 2·v·c_j), ties → lowest
  *    id (`row_number() ... ORDER BY d, j` ↔ the strict `<` scan in
  *    `PqEncode`/`IvfProbe`);
  *  - ADC: `Σ_mi luts[mi][code_mi]` as a sum over an equi-join on
  *    (mi, code);
  *  - shortlist and final top-k: `row_number()` over (score DESC,
  *    n_id) — the `NativeGroupedTopK` / `TopK.perGroup` tie-break.
  */
object AnnOracles {

  /** (j, i, c) literal rows for a k×dim centroid table; i is 1-based
    * to line up with DuckDB's `generate_subscripts`.
    */
  private def centValues(cents: Seq[Seq[Long]]): String =
    (for ((c, j) <- cents.zipWithIndex; (x, i) <- c.zipWithIndex)
      yield s"($j,${i + 1},$x)").mkString(",")

  /** (mi, j, i, c) literal rows for m×k×subDim codebooks; i is the
    * 1-based WITHIN-subspace index (global index = mi·subDim + i).
    */
  private def bookValues(books: Seq[Seq[Seq[Long]]]): String =
    (for ((book, mi) <- books.zipWithIndex; (c, j) <- book.zipWithIndex;
          (x, i) <- c.zipWithIndex)
      yield s"($mi,$j,${i + 1},$x)").mkString(",")

  /** The coarse quantizer's centroids `cent(j, i, c)` and every
    * vector's integer distance to each of them, `cdist(vec_id, j, d)`
    * = |c_j|² − 2·v·c_j. Depends on `quantCtes`'s `qv`.
    */
  private def cellDistCtes(model: Ivf.Model): String =
    s"""cent0(j, i, c) AS (VALUES ${centValues(model.centroidsQ)}),
        cent AS (SELECT j, i, CAST(c AS BIGINT) AS c FROM cent0),
        cdist AS (
          SELECT qv.vec_id, cent.j,
                 CAST(sum(cent.c * cent.c - 2 * qv.e * cent.c) AS BIGINT) AS d
          FROM qv JOIN cent ON qv.i = cent.i GROUP BY 1, 2)"""

  /** Coarse-quantizer CTEs: integer distance to every cell
    * ([[cellDistCtes]]), the (unique) cell per corpus vector, and the
    * `nprobe` probe cells per query vector.
    */
  private def ivfCtes(model: Ivf.Model, nq: Int, nprobe: Int): String = s"""
        ${cellDistCtes(model)},
        asg AS (
          SELECT vec_id AS n_id, j AS cell FROM (
            SELECT vec_id, j, row_number() OVER (
              PARTITION BY vec_id ORDER BY d, j) AS rn FROM cdist)
          WHERE rn = 1),
        probe AS (
          SELECT vec_id AS q_id, j AS cell FROM (
            SELECT vec_id, j, row_number() OVER (
              PARTITION BY vec_id ORDER BY d, j) AS rn
            FROM cdist WHERE vec_id < $nq)
          WHERE rn <= $nprobe),
        cand AS (
          SELECT p.q_id, a.n_id
          FROM probe p JOIN asg a ON a.cell = p.cell
          WHERE a.n_id <> p.q_id)"""

  /** PQ CTEs: per-subspace codes for the whole corpus, reconstruction
    * norms, and the query-side ADC lookup tables. Depends on `qv`.
    */
  private def pqCtes(model: Pq.Model, nq: Int): String = s"""
        bk0(mi, j, i, c) AS (VALUES ${bookValues(model.books)}),
        bk AS (SELECT mi, j, i, CAST(c AS BIGINT) AS c FROM bk0),
        bknorm AS (SELECT mi, j, CAST(sum(c * c) AS BIGINT) AS nsq
                   FROM bk GROUP BY 1, 2),
        sdist AS (
          SELECT qv.vec_id, bk.mi, bk.j,
                 CAST(sum(bk.c * bk.c - 2 * qv.e * bk.c) AS BIGINT) AS d
          FROM qv JOIN bk ON qv.i = bk.mi * ${model.subDim} + bk.i
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, mi, j AS code FROM (
            SELECT vec_id, mi, j, row_number() OVER (
              PARTITION BY vec_id, mi ORDER BY d, j) AS rn FROM sdist)
          WHERE rn = 1),
        cnorm AS (
          SELECT c.vec_id, CAST(sum(b.nsq) AS BIGINT) AS cnsq
          FROM codes c JOIN bknorm b ON b.mi = c.mi AND b.j = c.code
          GROUP BY 1),
        luts AS (
          SELECT qv.vec_id AS q_id, bk.mi, bk.j,
                 CAST(sum(qv.e * bk.c) AS BIGINT) AS lv
          FROM qv JOIN bk ON qv.i = bk.mi * ${model.subDim} + bk.i
          WHERE qv.vec_id < $nq GROUP BY 1, 2, 3)"""

  /** ADC-ranked shortlist (`acand`) of `rerank` candidates per query
    * from an `adc(q_id, n_id, adot)` CTE, ordered by the approximate
    * cosine (query true norm × code reconstruction norm) then n_id.
    */
  private def shortlistCte(rerank: Int): String = s"""
        acand AS (
          SELECT q_id, n_id FROM (
            SELECT a.q_id, a.n_id, row_number() OVER (
              PARTITION BY a.q_id
              ORDER BY CAST(a.adot AS DOUBLE)
                / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(cn.cnsq AS DOUBLE)))
                DESC, a.n_id) AS rn
            FROM adc a
              JOIN norms nq ON nq.vec_id = a.q_id
              JOIN cnorm cn ON cn.vec_id = a.n_id)
          WHERE rn <= $rerank)"""

  /** q54: IVF search — probe cells, exact cosine inside them, top-k. */
  def ivfOracle(model: Ivf.Model, nq: Int, nprobe: Int, k: Int): String = s"""
        WITH ${VectorQueries.quantCtes},
        ${ivfCtes(model, nq, nprobe)},
        fcand AS (SELECT q_id, n_id FROM cand),
        ${VectorQueries.candRankedSelect("fcand", k)}"""

  /** q166: PQ search — ADC over the full corpus, rerank the shortlist. */
  def pqOracle(model: Pq.Model, nq: Int, rerank: Int, k: Int): String = s"""
        WITH ${VectorQueries.quantCtes},
        ${pqCtes(model, nq)},
        adc AS (
          SELECT l.q_id, c.vec_id AS n_id, CAST(sum(l.lv) AS BIGINT) AS adot
          FROM codes c JOIN luts l ON l.mi = c.mi AND l.j = c.code
          WHERE l.q_id <> c.vec_id GROUP BY 1, 2),
        ${shortlistCte(rerank)},
        fcand AS (SELECT q_id, n_id FROM acand),
        ${VectorQueries.candRankedSelect("fcand", k)}"""

  /** q178: SemDeDup — k-means cells from the same coarse quantizer as
    * q54, then the within-cell "dominated by an earlier vector"
    * pruning rule: vector b is dropped iff some a < b in b's cell has
    * quantized-cosine(a, b) ≥ tau. Everything is the exact integer
    * arithmetic of the shared CTEs, so the per-cell kept-id hashes are
    * engine-exact. `tauMicro` is the threshold in micro-units
    * (300000 = 0.30) so the SQL literal round-trips exactly.
    */
  def semDedupOracle(model: Ivf.Model, tauMicro: Long): String = s"""
        WITH ${VectorQueries.quantCtes},
        ${cellDistCtes(model)},
        asg AS (
          SELECT vec_id, j AS cell FROM (
            SELECT vec_id, j, row_number() OVER (
              PARTITION BY vec_id ORDER BY d, j) AS rn FROM cdist)
          WHERE rn = 1),
        pairs AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM asg a JOIN asg b
            ON a.cell = b.cell AND a.vec_id < b.vec_id),
        dots AS (
          SELECT p.a_id, p.b_id, CAST(sum(x.e * y.e) AS BIGINT) AS dot
          FROM pairs p
            JOIN qv x ON x.vec_id = p.a_id
            JOIN qv y ON y.vec_id = p.b_id AND y.i = x.i
          GROUP BY 1, 2),
        dropped AS (
          SELECT d.b_id
          FROM dots d
            JOIN norms na ON na.vec_id = d.a_id
            JOIN norms nb ON nb.vec_id = d.b_id
          WHERE CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.nsq AS DOUBLE)) * sqrt(CAST(nb.nsq AS DOUBLE)))
            >= $tauMicro / 1000000.0
          GROUP BY 1)
        SELECT CAST(a.cell AS BIGINT) AS cell,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(dr.b_id) AS BIGINT) AS n_dropped,
               md5(coalesce(string_agg(
                 CASE WHEN dr.b_id IS NULL
                   THEN CAST(a.vec_id AS VARCHAR) END, ','
                 ORDER BY a.vec_id), '')) AS kept_hash
        FROM asg a LEFT JOIN dropped dr ON dr.b_id = a.vec_id
        GROUP BY 1 ORDER BY cell"""

  /** q167: IVF-PQ — ADC restricted to the probed cells' code lists. */
  def ivfPqOracle(coarse: Ivf.Model, model: Pq.Model, nq: Int,
      nprobe: Int, rerank: Int, k: Int): String = s"""
        WITH ${VectorQueries.quantCtes},
        ${ivfCtes(coarse, nq, nprobe)},
        ${pqCtes(model, nq)},
        adc AS (
          SELECT cd.q_id, cd.n_id, CAST(sum(l.lv) AS BIGINT) AS adot
          FROM cand cd
            JOIN codes c ON c.vec_id = cd.n_id
            JOIN luts l ON l.q_id = cd.q_id AND l.mi = c.mi AND l.j = c.code
          GROUP BY 1, 2),
        ${shortlistCte(rerank)},
        fcand AS (SELECT q_id, n_id FROM acand),
        ${VectorQueries.candRankedSelect("fcand", k)}"""
}
