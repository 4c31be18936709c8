package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector similarity primitives.
  *
  * Determinism design: float dot products are order-sensitive, so we
  * *quantize* each component to a long (round(x * 10000)) first. Long
  * sums are associative — the dot product and squared norms are exact
  * integers regardless of partitioning or aggregation order, and the
  * final cosine (one double division + two IEEE sqrt) is bit-identical
  * on every engine. This is what makes brute-force KNN hash-checkable
  * against an external oracle, and reproducible run-to-run at scale.
  *
  * All functions compose `zip_with`/`aggregate`/`transform` — codegen'd
  * higher-order functions, no UDFs, no per-row boxing.
  */
object VecFns {
  val Scale = 10000

  /** Array[Float] → Array[Long], component-wise round(x * Scale). */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * Scale, 0).cast("long"))

  /** Exact integer dot product of two quantized vectors (composable
    * higher-order form; interpreted — fine off the hot path).
    */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Same dot product via the codegen'd custom expression
    * (`graft.functions.expressions.LongArrayDot`); requires
    * `GraftFunctions.register(spark)` once per session. Use on hot
    * paths (KNN/ANN scoring).
    */
  def dotQFast(a: Column, b: Column): Column =
    call_function("long_array_dot", a, b)

  /** Cosine similarity from precomputed integer dot/normSq values. */
  def cosineFromQ(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") / (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))

  /** Sign bit of a deterministic pseudo-random hyperplane projection.
    * Hyperplane j's weight for component i is ±1 derived from the
    * first hex char of md5("j_i") — reproducible everywhere, no RNG
    * state to ship to executors.
    */
  /** ±1 weight of hyperplane j, component i — first md5 hex char < '8'. */
  def hyperplaneWeight(j: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) < 8) 1L else -1L
  }

  def hyperplaneBit(vq: Column, j: Int, dim: Int): Column = {
    // The projection is a dot product against a literal ±1 weight
    // vector — one codegen'd long_array_dot call instead of a
    // dim-term element_at sum (the wide tree made Catalyst
    // analysis/codegen the dominant cost, not the data).
    val w = typedlit((0 until dim).map(i => hyperplaneWeight(j, i)))
    when(dotQFast(vq, w) >= 0, lit(1L << j)).otherwise(lit(0L))
  }

  /** LSH bucket id: `nPlanes`-bit signature of hyperplane sign bits. */
  def lshBucket(vq: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map(j => hyperplaneBit(vq, j, dim)).reduce(_ + _).cast("long")

  /** Banded LSH key: the `planesPerBand`-bit signature of band `b`
    * (global planes b·r .. b·r+r-1, bits packed band-locally). Two
    * vectors are banded-LSH candidates iff they share the key of at
    * least one band — the OR-of-ANDs construction that trades a single
    * bucket's all-or-nothing recall for tunable recall at an equi-join
    * cost.
    */
  def lshBandKey(vq: Column, band: Int, planesPerBand: Int, dim: Int): Column =
    (0 until planesPerBand).map { k =>
      val j = band * planesPerBand + k
      val w = typedlit((0 until dim).map(i => hyperplaneWeight(j, i)))
      when(dotQFast(vq, w) >= 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _).cast("long")

  /** Sign (0/1 long) of hyperplane j's projection — the shared
    * substrate for multi-config band-key sweeps. A grid sweep reuses
    * plane j in every config whose plane range covers it (the default
    * 2/4/6/8 grid touches each of planes 0–7 four times), so the
    * sweep should materialize these once per vector in a dedicated
    * projection and assemble per-config keys from the bits with
    * [[lshBandKeyFromSigns]]; inlining `lshBandKey` per config
    * recomputes the dot products 2.5× on the default grid (and
    * CollapseProject will not merge a non-cheap alias consumed
    * multiple times, so the two-step form keeps each dot computed
    * exactly once).
    */
  def planeSign(vq: Column, j: Int, dim: Int): Column = {
    val w = typedlit((0 until dim).map(i => hyperplaneWeight(j, i)))
    // when/otherwise, not a bare cast: a NULL vector must yield sign
    // 0 (key 0) exactly as lshBandKey's otherwise-branch does — a
    // NULL-propagating cast would give the sweep a NULL-key bucket
    // while the executed join buckets the same rows under key 0
    when(dotQFast(vq, w) >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** [[lshBandKey]] assembled from pre-materialized [[planeSign]]
    * bits: `signs(j)` must be the 0/1 sign column of global plane j.
    * Bit-identical to `lshBandKey(vq, band, planesPerBand, dim)`.
    */
  def lshBandKeyFromSigns(signs: Int => Column, band: Int,
      planesPerBand: Int): Column =
    (0 until planesPerBand).map { k =>
      signs(band * planesPerBand + k) * (1L << k)
    }.reduce(_ + _).cast("long")

  /** ALL plane signs 0..maxPlanes-1 in one codegen'd expression
    * (`expressions.PlaneSignMask`): bit j of the returned 64-bit
    * words is `planeSign(vq, j, dim)`. One static multiply kernel per
    * row instead of maxPlanes inline dot expressions — past ~32
    * planes the inline form breaches the JIT method-size cliff and
    * the whole projection runs interpreted (measured 13× on the q187
    * derived-grid sweep). Requires `GraftFunctions.register`.
    */
  def planeSignMask(vq: Column, maxPlanes: Int, dim: Int): Column =
    call_function("plane_sign_mask", vq, lit(maxPlanes), lit(dim))

  /** Band `band`'s packed sign key extracted from a [[planeSignMask]]
    * word array — pure bit arithmetic (element_at + shifts), bit-
    * identical to [[lshBandKey]]: key bit k = sign of global plane
    * band·p + k. Handles keys straddling a word boundary (p ≤ 24
    * spans at most two words).
    */
  def bandKeyFromMask(mask: Column, band: Int, planesPerBand: Int): Column = {
    val lo = band * planesPerBand
    val word = lo / 64
    val off = lo % 64
    val base = shiftrightunsigned(element_at(mask, word + 1), off)
    val key =
      if (off + planesPerBand <= 64) base
      else base.bitwiseOR(
        // off > 64 - p >= 40 here, so the shift amount is in (0, 64)
        shiftleft(element_at(mask, word + 2), 64 - off))
    key.bitwiseAND(lit((1L << planesPerBand) - 1)).cast("long")
  }
}
