package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.functions.{MinHashLsh, TextFns, VecFns}

/** Parameters, the tokenized corpus and DuckDB oracle fragments that
  * more than one query module uses: the MinHash near-dup family (k = 12
  * components over word 3-gram shingles, 4 bands) and the hyperplane
  * family over the 64-dim `embeddings` table.
  */
private[queries] object Shared {

  /** MinHash signature length of the near-dup family. */
  val MinhashK = 12

  /** Band count of both banded families: the MinHash signature's 4
    * bands of 3 rows, and the hyperplane family's 4 bands.
    */
  val Bands = 4

  /** Embedding dimensionality of the harness `embeddings` table. */
  val EmbDim = 64

  /** Near-dup threshold on the signature-component estimate: the
    * est ≥ 0.5 pairs of the MinHash oracles, and the drop threshold of
    * q186, q188 and q190.
    */
  val Threshold = 0.5

  /** `documents` read in parallel (`Tables.docsParallel`) with its
    * token array `t` (`TextFns.tokens` of `text`).
    */
  def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    Tables.docsParallel(s, d).withColumn("t", TextFns.tokens(col("text")))

  /** DuckDB CTEs producing distinct (doc_id, sh) word n-gram shingles
    * of table `src` (doc_id, text).
    */
  def shingleCtes(src: String, n: Int, withSource: Boolean = false): String = {
    val cols = if (withSource) ", source" else ""
    val gram = (0 until n).map(o => s"t[i+$o]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id$cols, string_split(text, ' ') AS t FROM $src),
        idx AS (SELECT doc_id$cols, t, unnest(range(1, greatest(len(t) - ${n - 2}, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id$cols, $gram AS sh FROM idx WHERE i + ${n - 1} <= len(t))"""
  }

  /** DuckDB CTEs from table `src` (doc_id, text) to the MinHash
    * signatures `sig(doc_id, s0 …)`: word 3-gram shingles `sh`, their
    * 28-bit base hashes `hh` (the 2-universal family of
    * `MinHashLsh.baseHash`), and per doc the `MinhashK` minima.
    */
  def minhashSigCtes(src: String): String = {
    val mins = (0 until MinhashK).map(i =>
      s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
        s" % ${MinHashLsh.P}) AS s$i").mkString(", ")
    s"""${shingleCtes(src, 3)},
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh),
        sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id)"""
  }

  /** DuckDB rows (doc_id, band, key, s0 …) of `sig` cut into `bands`
    * bands: the key is the band's `MinhashK / bands` components hashed
    * as `MinHashLsh.bandKeySql` does, and the components ride along for
    * [[minhashEst]].
    */
  def bandRows(bands: Int): String = {
    val r = MinhashK / bands
    val comps = (0 until MinhashK).map(i => s"s$i")
    (0 until bands).map { b =>
      val key = comps.slice(b * r, (b + 1) * r).mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, ${MinHashLsh.bandKeySql(key)} AS key, " +
        comps.mkString(", ") + " FROM sig"
    }.mkString("\n UNION ALL\n ")
  }

  /** DuckDB estimate of a band-joined pair `l`, `r` of [[bandRows]]:
    * the share of equal signature components, rounded as
    * `MinHashLsh.candidatePairs` rounds its `est`.
    */
  def minhashEst: String = {
    val matches = (0 until MinhashK)
      .map(i => s"CASE WHEN l.s$i = r.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"round(($matches) / ${MinhashK.toDouble}, 4)"
  }

  /** VALUES rows `(j, i, weight)` of hyperplanes `0 until nPlanes` over
    * the 1-based coordinates `1 to EmbDim` — the md5-derived ±1 weights
    * of `VecFns.hyperplaneWeight`.
    */
  def weightRows(nPlanes: Int): String =
    (for {
      j <- 0 until nPlanes
      i <- 1 to EmbDim
    } yield s"($j,$i,${VecFns.hyperplaneWeight(j, i - 1)})").mkString(",")

  /** DuckDB CTEs projecting the quantized vectors `qv` (vec_id, i, e)
    * onto hyperplanes `0 until nPlanes`: the weights `w` and the
    * projections `proj(vec_id, j, p)`.
    */
  def planeProjCtes(nPlanes: Int): String = s"""
        w(j, i, wt) AS (VALUES ${weightRows(nPlanes)}),
        proj AS (
          SELECT qv.vec_id, w.j, CAST(sum(qv.e * w.wt) AS BIGINT) AS p
          FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2)"""

  /** VALUES rows `(m, 2^m)` that pack `n` plane-sign bits into a key. */
  def powerRows(n: Int): String =
    (0 until n).map(m => s"($m,${1L << m})").mkString(",")
}
