package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection.
  *
  * Hash family: one 28-bit base hash per shingle (md5 hex prefix),
  * then k draws from the 2-universal family g_i(x) = (a_i·x + b_i)
  * mod p with p the largest prime < 2^28 and fixed per-i constants
  * derived from md5(i) — signature component i = min over the
  * document's shingles of g_i(x). One digest per shingle instead of
  * one per (i, shingle), with *independent* per-i orderings (a naive
  * h1 + i·h2 "two-hash" variant keeps nearly the same argmin across
  * i, correlating the components and blowing up LSH false-positive
  * candidates ~50×). Products reach (P-1)² ≈ 7.2e16 (56 bits) — exact
  * in any 64-bit integer type (Spark LongType, DuckDB BIGINT), but
  * past the 2^53 exact-integer range of an IEEE double, so an engine
  * computing in doubles would NOT reproduce the signatures
  * bit-for-bit. (Shrink P to < 2^26 if double-engine portability is
  * ever required.)
  *
  * LSH: the k signature components are cut into `bands` groups of
  * k/bands rows; band key = the first 60 bits (15 hex chars) of the
  * md5 of the '|'-joined components, as a LONG. Documents sharing any
  * band key become candidate pairs. The band join is a pure equi-join
  * on (band index, band key) — at 100 TB this is one shuffle on an
  * 8-byte numeric key. (Round 17's fourth-decade post-mortem: the
  * same join keyed by the full 32-hex md5 STRING was a ~40+ GB sort
  * spill at 50 M docs — 15 band rows/doc × ~40-byte keys; the 60-bit
  * truncation cuts banded shuffle and index-leaf bytes ~4× and is
  * mirrored exactly by every oracle, so a ~2⁻⁶⁰-per-pair truncation
  * collision produces the identical extra candidate on both sides —
  * and candidates are verified against the full signature downstream
  * anyway.) Moderate key-skew from
  * near-duplicate clusters is re-balanced by AQE's skew-join
  * splitting; *degenerate* buckets (beyond [[LshGuard.DefaultMaxBucket]]
  * rows behind one key, e.g. millions of empty docs) are capped by the
  * [[BandedLsh]] chain-link guard, which AQE cannot do — splitting
  * partitions never bounds a single key's O(m²) pair count.
  */
object MinHashLsh {

  /** Largest prime below 2^28. */
  val P = 268435399L

  /** md5 hex chars kept in the numeric band key: 15 chars = 60 bits,
    * exact and non-negative in a signed 64-bit long (Spark LongType,
    * DuckDB BIGINT). The q84/q192 hex-prefix↔long bijection at the
    * widest width a BIGINT carries without sign trouble.
    */
  val BandKeyHexChars = 15

  /** DuckDB SQL twin of the [[bandKeys]] key derivation over a
    * '|'-joined component expression — every banded-family oracle
    * builds its band CTE through this so the impl and the oracle can
    * never disagree on the key representation.
    */
  def bandKeySql(joined: String): String =
    s"CAST('0x' || substr(md5($joined), 1, $BandKeyHexChars) AS BIGINT)"

  /** The band-key column from pre-projected signature component
    * columns (the Spark twin of [[bandKeySql]]).
    */
  def bandKeyCol(components: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|", components: _*)), 1, BandKeyHexChars),
      16, 10).cast("long")

  private def md5PrefixLong(s: String, hexChars: Int): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .take((hexChars + 1) / 2)
        .map(b => f"$b%02x").mkString.take(hexChars), 16)

  /** Multiplier for hash i: deterministic, in [1, P-1]. */
  def aConst(i: Int): Long = md5PrefixLong(s"a|$i", 7) % (P - 1) + 1

  /** Offset for hash i: deterministic, in [0, P-1]. */
  def bConst(i: Int): Long = md5PrefixLong(s"b|$i", 7) % P

  /** 28-bit base hash of a shingle (md5 hex prefix mod P) — portable:
    * any ANSI-SQL engine computes the identical value.
    */
  def baseHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 7), 16, 10).cast("long") % P

  /** Signature component i from the base hash. */
  def component(x: Column, i: Int): Column =
    (x * aConst(i) + bConst(i)) % P

  /** Per-document MinHash signature.
    * @param shingles (idCol, shingleCol) rows, duplicates allowed
    * @return one row per id: idCol, s0..s{k-1} (long components)
    */
  def signatures(shingles: DataFrame, idCol: String, shingleCol: String, k: Int): DataFrame = {
    val withH = shingles.select(col(idCol),
      baseHash(col(shingleCol)).as("__x"))
    val aggs = (0 until k).map(i =>
      min(component(col("__x"), i)).as(s"s$i"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document MinHash signature computed inside one pass over the
    * corpus — same values as `signatures` over exploded shingles, but
    * with the per-doc min-loop run locally in a typed `mapPartitions`:
    * a document's signature depends only on its own shingles, so the
    * explode (which copies the row once per shingle through Generate)
    * and the corpus-wide (id → k mins) aggregation shuffle are both
    * unnecessary. The base hash is the identical md5-prefix value
    * (first 28 bits of the digest, taken from the raw bytes rather
    * than through a hex-string round-trip), so signatures stay
    * bit-equal to the declarative form and to the SQL oracle.
    * At 100 TB this turns the dominant LSH stage into a narrow
    * map-only stage: zero shuffle until the band join.
    *
    * @param docs   one row per document
    * @param tokensCol materialized array<string> token column
    * @param n      shingle width (tokens per shingle)
    * @return one row per id that has ≥ 1 shingle: idCol, s0..s{k-1}
    */
  def signaturesFromTokens(docs: DataFrame, idCol: String, tokensCol: String,
      n: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val as = (0 until k).map(aConst).toArray
    val bs = (0 until k).map(bConst).toArray
    val p = P
    // The id rides through the local pass as a string and is cast back
    // to its original type on the way out — lossless for integral ids
    // and keeps the `signatures()` any-id-type contract (a long-only
    // encoder here would crash on string ids at runtime).
    val idType = docs.schema(idCol).dataType
    val rows = docs
      .select(col(idCol).cast("string"), col(tokensCol).cast("array<string>"))
      .as[(String, Array[String])]
      .mapPartitions { it =>
        // r21: allocation-free single-pass MD5 + byte-level shingle
        // assembly — each token UTF-8-encodes ONCE per document (not
        // once per covering shingle) and no String/StringBuilder/
        // digest-array allocations remain in the per-shingle loop.
        // Bit-equal to the MessageDigest form (Md5Spec): the byte
        // stream is the same "tok tok tok" UTF-8 and the top 28
        // digest bits are the same hex-prefix value.
        val md = new Md5.First8
        val bb = new Md5.ByteBuf
        var tokBytes = new Array[Array[Byte]](64)
        it.flatMap { case (id, t) =>
          if (t == null || t.length < n) Iterator.empty
          else {
            if (tokBytes.length < t.length)
              tokBytes = new Array[Array[Byte]](t.length)
            var e = 0
            while (e < t.length) {
              // StringBuilder.append(null: String) spelled "null" in
              // the former form — keep that exact byte stream (tokens
              // from split() are never null; pinned anyway)
              tokBytes(e) = if (t(e) == null) Md5.NullBytes
                else t(e).getBytes("UTF-8")
              e += 1
            }
            val mins = Array.fill(k)(Long.MaxValue)
            var i = 0
            while (i + n <= t.length) {
              bb.reset()
              var o = 0
              while (o < n) {
                if (o > 0) bb.appendSpace()
                bb.append(tokBytes(i + o))
                o += 1
              }
              val x = (md.hash(bb.buf, bb.len) >>> 36) % p
              var j = 0
              while (j < k) {
                val c = (x * as(j) + bs(j)) % p
                if (c < mins(j)) mins(j) = c
                j += 1
              }
              i += 1
            }
            Iterator.single((id, mins))
          }
        }
      }
    rows.select(col("_1").cast(idType).as(idCol) +:
      (0 until k).map(i => col("_2")(i).as(s"s$i")): _*)
  }

  /** Banded LSH keys from a signature table: one row per (id, band)
    * with the band's 60-bit numeric key ([[bandKeyCol]]) plus the
    * full signature columns carried through (so a downstream join can
    * compute the component-match estimate without a second signature
    * lookup). This IS the "LSH index" layout: persisted (or written
    * out) once, an incremental batch probes it with an equi-join on
    * (band, key).
    *
    * GUARD CONTRACT: never feed this frame to a join on (band, key)
    * directly — a degenerate bucket makes any such join O(m²) (pair
    * build) or O(m·probes) (index lookup), which AQE cannot bound.
    * Route self-joins through [[candidatePairs]] (the
    * [[BandedLsh]] hot-bucket guard) and index sides through
    * [[LshGuard.capBuckets]]; only an unguarded PROBE side (the delta
    * batch of an incremental lookup, each row multiplied only by the
    * already-capped index bucket) may use the raw frame.
    */
  def bandKeys(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val keys = (0 until bands).map { b =>
      struct(lit(b).as("band"), bandKey(k, bands, b).as("key"))
    }
    val bandedCols = Seq(col(idCol), col("__bk.band").as("band"),
      col("__bk.key").as("key")) ++ (0 until k).map(i => col(s"s$i"))
    sigs.withColumn("__bk", explode(array(keys: _*)))
      .select(bandedCols: _*)
  }

  /** Band `band`'s [[bandKeyCol]] key when the k signature components
    * are cut into `bands` bands of k/bands components.
    */
  private def bandKey(k: Int, bands: Int, band: Int): Column = {
    val r = k / bands
    bandKeyCol((band * r until (band + 1) * r).map(i => col(s"s$i")))
  }

  /** The MinHash [[BandedLsh.Family]] over a signature frame
    * (`id`, s0..s{k-1}): configs are band counts (divisors of k), each
    * band's key is [[bandKeyCol]] over its k/bands components, hot
    * chains run in full-signature order, and pairs carry `est` = the
    * fraction of equal signature components (the MinHash Jaccard
    * estimate, the same comparison on the cold and chained paths).
    */
  def family(sigs: DataFrame, id: String, k: Int): BandedLsh.Family =
    new BandedLsh.Family {
      val idCol = id
      val recallOrder = Ordering.Int.reverse
      def bands(cfg: Int): Int = {
        require(k % cfg == 0, s"band count $cfg must divide k=$k")
        cfg
      }
      def gridInput(grid: Seq[Int]): DataFrame = sigs
      def gridKey(cfg: Int, band: Int): Column = bandKey(k, cfg, band)
      def banded(cfg: Int): DataFrame = bandKeys(sigs, id, k, cfg)
      def content: Column = struct((0 until k).map(i => col(s"s$i")): _*)
      def pair(lo: String => Column, hi: String => Column): Seq[Column] = {
        val matches = (0 until k)
          .map(i => when(lo(s"s$i") === hi(s"s$i"), 1).otherwise(0))
          .reduce(_ + _)
        Seq(round(matches / lit(k.toDouble), 4).as("est"))
      }
    }

  /** The band-count calibration (the q185 sweep as a reusable
    * operator): the most-bands (highest-recall) config whose exact
    * banded-join load fits `pairsPerDocBudget` per signed document,
    * fewest bands as fallback — one aggregation over the signatures,
    * a |bandGrid|-row collect. Callers should pass a persisted `sigs`
    * (the sweep and whatever executes the selection share the scan).
    */
  def calibrateBands(sigs: DataFrame, idCol: String, k: Int,
      bandGrid: Seq[Int], pairsPerDocBudget: Long): Int = {
    val fam = family(sigs, idCol, k)
    BandedLsh.select(BandedLsh.occupancy(fam, bandGrid), fam, bandGrid,
      pairsPerDocBudget)._1
  }

  /** The whole pricing grid's band keys as bijectively PACKED longs —
    * the input shape of [[OccupancySweep.exactStratified]], the
    * bounded-peak EXACT sweep for corpora whose distinct-key count
    * exceeds one aggregation's spill budget (VERDICT r19 #1; the
    * in-memory [[calibrateBands]]/[[BandedLsh.calibrate]] stay the
    * operational path — this is the decade-pricing path).
    *
    * Each (bands, band) grid pair gets a 4-bit tag above the 60-bit
    * band key ([[BandKeyHexChars]]), so grouping by the packed long
    * is exactly grouping by (bands, band, key); the returned decoder
    * maps a packed value back to its `bands` config.
    */
  def packedGridKeys(sigs: DataFrame, k: Int,
      grid: Seq[Int]): (DataFrame, Long => Int) = {
    require(grid.nonEmpty && grid.forall(b => k % b == 0),
      s"band grid $grid must be non-empty divisors of k=$k")
    val tags = for { b <- grid; band <- 0 until b } yield (b, band)
    require(tags.size <= 16,
      s"grid $grid spans ${tags.size} (bands, band) pairs — " +
        "more than the 4 tag bits above a 60-bit key carry")
    val cols = tags.zipWithIndex.map { case ((b, band), tag) =>
      OccupancySweep.packTag(tag, bandKey(k, b, band),
        OccupancySweep.MinHashTagShift)
    }
    val cfgByTag = tags.map(_._1).toArray
    val shift = OccupancySweep.MinHashTagShift
    (sigs.select(explode(array(cols: _*)).as("packed")),
      (p: Long) => cfgByTag((p >>> shift).toInt))
  }

  /** Candidate pairs (a, b, est), a < b, at `bands` bands through the
    * [[BandedLsh]] hot-bucket guard: buckets of at most `maxBucket`
    * rows take the exact all-pairs band self-join, degenerate ones are
    * chain-linked in (signature, id) order — O(m) pairs, one connected
    * component, signature-identical runs chained at est = 1.0 so they
    * survive any downstream `est >= t` filter. The banded frame is
    * persisted for the self-join (the occupancy probe materializes it)
    * and stays cached until the session's caches are cleared.
    */
  def candidatePairs(sigs: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucket: Int = LshGuard.DefaultMaxBucket): DataFrame =
    BandedLsh.execute(family(sigs, idCol, k), bands, None, maxBucket)._1
}
