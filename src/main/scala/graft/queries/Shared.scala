package graft.queries

import graft.functions.{MinHashLsh, VecFns}

/** Parameters and DuckDB oracle fragments that more than one query
  * module uses: the MinHash near-dup family (k = 12 components over
  * word 3-gram shingles, 4 bands) and the hyperplane family over the
  * 64-dim `embeddings` table.
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

  /** Near-dup drop threshold on the signature-component estimate
    * (q186, q188, q190).
    */
  val Threshold = 0.5

  /** DuckDB CTEs producing distinct (doc_id, sh) word n-gram shingles. */
  def shingleCtes(n: Int, withSource: Boolean = false): String = {
    val src = if (withSource) ", source" else ""
    val gram = (0 until n).map(o => s"t[i+$o]").mkString(" || ' ' || ")
    s"""toks AS (SELECT doc_id$src, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id$src, t, unnest(range(1, greatest(len(t) - ${n - 2}, 1))) AS i FROM toks),
        sh AS (SELECT DISTINCT doc_id$src, $gram AS sh FROM idx WHERE i + ${n - 1} <= len(t))"""
  }

  /** DuckDB CTE: 28-bit base hash per (doc_id, sh) — the same
    * 2-universal MinHash family as `MinHashLsh.baseHash`.
    */
  def hashCte: String = s"""
        hh AS (SELECT doc_id,
                      CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT)
                        % ${MinHashLsh.P} AS x
               FROM sh)"""

  /** SELECT list of the `MinhashK` signature components `s0 …` over a
    * base-hash column `x` — the 2-universal family of `MinHashLsh`.
    */
  def sigSelect: String =
    (0 until MinhashK).map(i =>
      s"min((x * ${MinHashLsh.aConst(i)} + ${MinHashLsh.bConst(i)})" +
        s" % ${MinHashLsh.P}) AS s$i").mkString(", ")

  /** VALUES rows `(j, i, weight)` of hyperplanes `0 until nPlanes` over
    * the 1-based coordinates `1 to EmbDim` — the md5-derived ±1 weights
    * of `VecFns.hyperplaneWeight`.
    */
  def weightRows(nPlanes: Int): String =
    (for {
      j <- 0 until nPlanes
      i <- 1 to EmbDim
    } yield s"($j,$i,${VecFns.hyperplaneWeight(j, i - 1)})").mkString(",")

  /** VALUES rows `(m, 2^m)` that pack `n` plane-sign bits into a key. */
  def powerRows(n: Int): String =
    (0 until n).map(m => s"($m,${1L << m})").mkString(",")
}
